package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class JaccardRewriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs: DataFrame = Seq(
    (1L, "the quick brown fox jumps"),
    (2L, "the quick brown fox jumped"),
    (3L, "a completely different sentence"),
    (4L, "the quick brown fox jumps"), // exact dup of 1
    (5L, "short"),
    (6L, ""),
    (7L, "")
  ).toDF("id", "text")

  private def withRule[A](f: => A): A = {
    GraftSession.installOptimizerRules(spark)
    try f
    // strip EVERY graft rule: installOptimizerRules adds all of them,
    // and suite order is arbitrary — a leftover sibling rule breaks
    // another rewrite spec's "naive plan" precondition
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations
        .filterNot(_.getClass.getName.startsWith("graft.plans."))
  }

  // string-match like PlanSpec: AQE wraps the plan in
  // AdaptiveSparkPlanExec, which tree traversal doesn't see through
  private def nestedLoopish(p: SparkPlan): Boolean = {
    val s = p.toString
    s.contains("CartesianProduct") || s.contains("BroadcastNestedLoopJoin")
  }

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("a.id", "b.id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("marker expression evaluates exact n-gram jaccard in a projection") {
    val sims = docs.as("x").select(col("id"),
      Dedup.jaccardSim(col("text"), lit("the quick brown fox jumps"), 3).as("j"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sims(1L) === 1.0)
    assert(sims(4L) === 1.0)
    assert(sims(6L) === 0.0, "sentinel: J(empty, long) = 0")
    assert(sims(3L) < 0.3, "disjoint gram sets score near zero")
    assert(sims(2L) > 0.7 && sims(2L) < 1.0)
  }

  test("rewrite produces the same rows as the naive cross join, and no nested-loop join") {
    val a = docs.as("a")
    val b = docs.as("b")
    val q = a.join(b,
      Dedup.jaccardSim(col("a.text"), col("b.text"), 3) >= lit(0.6) &&
        col("a.id") < col("b.id"))

    val naive = pairsOf(q) // rule not installed: evaluates per pair
    assert(nestedLoopish(q.queryExecution.executedPlan),
      "without the rule this must be a nested-loop plan (sanity)")

    withRule {
      val rewritten = a.join(b,
        Dedup.jaccardSim(col("a.text"), col("b.text"), 3) >= lit(0.6) &&
          col("a.id") < col("b.id"))
      assert(!nestedLoopish(rewritten.queryExecution.executedPlan),
        "rule must eliminate the cross product")
      assert(pairsOf(rewritten) === naive)
      assert(naive.contains((1L, 4L)) && naive.contains((6L, 7L)),
        "exact dups and empty-empty (J=1) must be present")
      assert(naive.exists { case (x, y) => Set(x, y) === Set(1L, 2L) })
    }
  }

  test("strict >, reversed literal, and swapped sides all match") {
    // planted 3-gram sets whose J is 1/3 (abcd, abce), 1/2 (abcde,
    // abcdx) or 3/5 (abcdef, abcdeg), among others; thresholds at J and
    // within 1e-7 of it, strict and not, against the marker's per-pair
    // evaluation. 1/3 is not a 6-place decimal, so a rounded compare
    // would differ from the marker right at t = 1/3
    val planted = Seq((1L, "abcd"), (2L, "abce"), (3L, "abcde"), (4L, "abcdx"),
      (5L, "abcdef"), (6L, "abcdeg")).toDF("id", "text")
    def near(t: Double, strict: Boolean): DataFrame = {
      val sim = Dedup.jaccardSim(col("a.text"), col("b.text"), 3)
      planted.as("a").join(planted.as("b"),
        (if (strict) sim > lit(t) else sim >= lit(t)) && col("a.id") < col("b.id"))
    }
    val cases = for (j <- Seq(1.0 / 3, 0.5, 0.6); d <- Seq(0.0, 5e-8, -5e-8);
        strict <- Seq(false, true)) yield (j + d, strict)
    val naive = cases.map { case (t, strict) => pairsOf(near(t, strict)) }
    assert(naive(0).contains((1L, 2L)) && !naive(1).contains((1L, 2L)),
      "J = t exactly: kept by >=, dropped by > (sanity)")
    withRule {
      val a = docs.as("a")
      val b = docs.as("b")
      // J(1,2) ≈ 0.76; J=1 pairs excluded by strict > 0.99
      val strict = a.join(b,
        Dedup.jaccardSim(col("b.text"), col("a.text"), 3) > lit(0.99) &&
          col("a.id") < col("b.id"))
      assert(!nestedLoopish(strict.queryExecution.executedPlan))
      val got = pairsOf(strict)
      assert(got === Set((1L, 4L), (6L, 7L)), s"got $got")

      val reversed = a.join(b,
        lit(0.99) <= Dedup.jaccardSim(col("a.text"), col("b.text"), 3) &&
          col("a.id") < col("b.id"))
      assert(!nestedLoopish(reversed.queryExecution.executedPlan))
      assert(pairsOf(reversed) === Set((1L, 4L), (6L, 7L)))

      cases.zip(naive).foreach { case ((t, strict), expected) =>
        val q = near(t, strict)
        assert(!nestedLoopish(q.queryExecution.executedPlan))
        assert(pairsOf(q) === expected, s"t=$t strict=$strict")
      }
    }
  }

  test("bipartite join with residual predicate and projection afterwards") {
    withRule {
      val queries = Seq((100L, "the quick brown fox jumps")).toDF("qid", "qtext").as("q")
      val corpus = docs.as("c")
      val joined = queries.join(corpus,
        Dedup.jaccardSim(col("q.qtext"), col("c.text"), 3) >= lit(0.6) &&
          col("c.id") =!= lit(2L))
        .select(col("qid"), col("c.id").as("cid"))
      assert(!nestedLoopish(joined.queryExecution.executedPlan))
      val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((100L, 1L), (100L, 4L)), s"got $got")
    }
  }

  test("SQL surface: ngram_jaccard_sim registered and rewritten") {
    withRule {
      GraftSession.registerFunctions(spark)
      docs.createOrReplaceTempView("rw_docs")
      val q = spark.sql(
        """SELECT a.id AS ia, b.id AS ib
          |FROM rw_docs a JOIN rw_docs b
          |  ON ngram_jaccard_sim(a.text, b.text, 3) >= 0.6d AND a.id < b.id
          |ORDER BY ia, ib""".stripMargin)
      assert(!nestedLoopish(q.queryExecution.executedPlan))
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((1L, 2L)) && got.contains((1L, 4L)) && got.contains((6L, 7L)))
    }
  }
}
