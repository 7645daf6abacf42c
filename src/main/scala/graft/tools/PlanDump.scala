package graft.tools

import graft.{GraftSession, SparkEntry}

/** Plan-audit helper: print the formatted (static) and executed
  * (post-AQE) physical plan of any [[SparkEntry.queries]] entry.
  *
  * {{{
  * sbt "runMain graft.tools.PlanDump q125_quality_classifier /root/testdata/sf0.01"
  * sbt "runMain graft.tools.PlanDump q2_revenue_by_nation /root/testdata/sf0.01 static"
  * }}}
  *
  * `static` skips execution (no action is run); default executes the
  * query so AQE's final shape — runtime build sides, ReusedExchange,
  * skew splits — is what gets printed.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <queryName> <sfDir> [static]")
    val Array(name, sfDir) = args.take(2)
    val spark = GraftSession.get("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (args.length > 2 && args(2) == "static") {
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    } else {
      df.collect()
      println(df.queryExecution.executedPlan.toString)
    }
  }
}
