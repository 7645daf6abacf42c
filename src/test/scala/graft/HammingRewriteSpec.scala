package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** HammingJoinRewrite: vanilla `bit_count(a ^ b) <= k` theta-joins
  * rewrite to the pigeonhole-banded plan with identical output — no
  * marker expression involved. */
class HammingRewriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // signatures with known pairwise distances: 1↔2 distance 1, 1↔4
  // distance 0 (dup), 3 far from everything, 5 distance 2 from 1
  private def sigs: DataFrame = Seq(
    (1L, 0x00000000000000FFL),
    (2L, 0x00000000000000FEL), // 1 bit from sig 1
    (3L, 0x0F0F0F0F0F0F0F0FL),
    (4L, 0x00000000000000FFL), // identical to 1
    (5L, 0x00000000000003FFL)  // 2 bits from 1
  ).toDF("id", "sig")

  private def withRule[A](f: => A): A = {
    GraftSession.installOptimizerRules(spark)
    try f
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations
        .filterNot(_.getClass.getName.startsWith("graft.plans."))
  }

  private def nestedLoopish(df: DataFrame): Boolean = {
    val s = df.queryExecution.executedPlan.toString
    s.contains("CartesianProduct") || s.contains("BroadcastNestedLoopJoin")
  }

  private def build(k: Int): DataFrame = {
    val a = sigs.as("a")
    val b = sigs.as("b")
    a.join(b, bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= lit(k) &&
      col("a.id") < col("b.id"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"))
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("rewrite equals the naive plan at several budgets") {
    for (k <- Seq(0, 1, 2, 3)) {
      val naive = pairs(build(k))
      assert(nestedLoopish(build(k)), "sanity: naive must be nested-loop")
      withRule { assert(pairs(build(k)) === naive, s"budget $k") }
    }
    assert(pairs(build(0)) === Set((1L, 4L)))
    assert(pairs(build(1)) === Set((1L, 4L), (1L, 2L), (2L, 4L)))
  }

  test("strict form, reversed literal orientation, residual conjuncts") {
    def q() = {
      val a = sigs.as("a")
      val b = sigs.as("b")
      a.join(b,
        lit(3) > bit_count(col("b.sig").bitwiseXOR(col("a.sig"))) &&
          col("a.id") < col("b.id") && col("b.id") =!= lit(2L))
        .select(col("a.id"), col("b.id"))
    }
    val naive = pairs(q())
    assert(naive === Set((1L, 4L), (1L, 5L), (2L, 4L), (4L, 5L)),
      "distance < 3, right side 2 excluded by the residual")
    withRule { assert(pairs(q()) === naive) }
  }

  test("corpus-scale: rewrite output equals brute force; no nested loop in plan") {
    withRule {
      val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      val s = docs.select(col("doc_id"),
        Dedup.simhashSignature(col("text")).as("sig"))
      val a = s.as("a"); val b = s.as("b")
      val joined = a.join(b,
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= lit(3) &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      assert(!nestedLoopish(joined), "rewritten plan must not nested-loop")
      val got = pairs(joined)
      // brute force over the collected signatures: the core under the
      // rewrite is also the one simhashPairs calls, so it can't be the
      // reference
      val vals = s.as[(Long, Long)].collect()
      val want = (for {
        (ia, sa) <- vals; (ib, sb) <- vals
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
      } yield (ia, ib)).toSet
      assert(got === want)
      assert(got.nonEmpty, "fixture must contain near-dup signatures")
    }
  }

  test("lower bounds and oversized budgets are left alone") {
    withRule {
      // distance >= k is a lower bound — not banding-rewritable
      val a = sigs.as("a"); val b = sigs.as("b")
      val lower = a.join(b,
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) >= lit(60) &&
          col("a.id") < col("b.id"))
      assert(nestedLoopish(lower), "lower-bound predicate must stay a theta join")
      assert(pairs(lower.select(col("a.id"), col("b.id"))).isEmpty)
      val huge = a.join(b,
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= lit(64) &&
          col("a.id") < col("b.id"))
      assert(pairs(huge.select(col("a.id"), col("b.id"))).size === 10,
        "budget 64 admits every pair; un-rewritten plan still answers")
    }
  }
}
