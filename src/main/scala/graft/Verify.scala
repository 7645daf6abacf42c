package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.get(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=<regex>: dump just the matching subset (local
    // iteration on new queries without re-running the full sweep).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Seeded-state queries (q102/q106/q107) reference engine-exported
    // parquet via the __GRAFT_STATE_DIR__ token; resolve it to this
    // run's per-sfDir state directory so DuckDB reads the same state
    // the engine just wrote (see SparkEntry.stateDir).
    val stateDir = SparkEntry.stateDir(sfDir)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.findFirstIn(k).isDefined) }
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__GRAFT_STATE_DIR__", stateDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
