package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DupClusters, Similarity}

class DupClustersSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // driverEdgeThreshold = 0 forces the DISTRIBUTED loop — these tests
  // cover the iterative path; the driver fast path is compared against
  // it separately below.
  private def comps(vs: Seq[Long], es: Seq[(Long, Long)], maxIter: Int = 30) =
    DupClusters.connectedComponents(
        vs.toDF("id"), es.toDF("id_a", "id_b"), maxIter, driverEdgeThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connectedComponents: chains transitively close, isolated rows self-label") {
    // a~b, b~c chain + separate pair + isolated vertex
    val m = comps(Seq(1L, 2L, 3L, 4L, 5L, 9L), Seq((2L, 1L), (2L, 3L), (4L, 5L)))
    assert(m === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("connectedComponents: long path converges in O(log d) rounds, maxIter guards") {
    val vs = (0L to 12L).toSeq
    val es = vs.sliding(2).map(p => (p(1), p(0))).toSeq // 12-edge path
    val m = comps(vs, es)
    assert(m.values.toSet === Set(0L), "whole path is one component labeled by min id")
    val long = (0L to 40L).toSeq
    val longEs = long.sliding(2).map(p => (p(1), p(0))).toSeq
    assert(comps(long, longEs).values.toSet === Set(0L))
    assertThrows[IllegalStateException](comps(long, longEs, maxIter = 2))
  }

  test("connectedComponents: edge orientation and duplicate edges don't matter") {
    val m1 = comps(Seq(1L, 2L, 3L), Seq((1L, 2L), (2L, 3L)))
    val m2 = comps(Seq(1L, 2L, 3L), Seq((2L, 1L), (3L, 2L), (1L, 2L)))
    assert(m1 === m2)
  }

  test("reliable-checkpoint branch: a session checkpoint dir switches the loop to checkpoint()") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val vs = (0L to 20L).toSeq
      val es = vs.sliding(2).map(p => (p(1), p(0))).toSeq
      val m = comps(vs, es) // distributed loop (threshold 0) + reliable branch
      assert(m.values.toSet === Set(0L))
      // reliable checkpoints actually landed in the configured dir
      def fileCount(p: java.io.File): Int =
        if (p.isDirectory) p.listFiles().map(fileCount).sum else 1
      assert(fileCount(new java.io.File(dir)) > 0,
        "checkpoint(true) must write RDD blocks under the checkpoint dir")
    } finally {
      spark.sparkContext.setCheckpointDir(null) // restore localCheckpoint default
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("softDedupWeights: mass 1 per cluster, singletons weigh 1, every row kept") {
    // chain {1,2,3} + pair {4,5} + isolated 9
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"), (9L, "f"))
      .toDF("id", "payload")
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = DupClusters.softDedupWeights(df, "id", pairs)
      .select("id", "payload", "dup_cluster_size", "soft_weight")
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L, 9L), "soft dedup never drops a row")
    assert(Seq(1L, 2L, 3L).forall(out(_)._2 == 3L))
    assert(Seq(4L, 5L).forall(out(_)._2 == 2L))
    assert(out(9L)._2 === 1L && out(9L)._3 === 1.0)
    // 1/3 is rounded to 9 decimals — the hash-stable value both
    // engines agree on
    assert(out(1L)._3 === 0.333333333)
    assert(out(4L)._3 === 0.5)
    // payloads ride through untouched
    assert(out(2L)._1 === "b")
    // each cluster's total mass is its row count × its weight ≈ 1
    val mass = out.values.groupBy(_._2).map { case (sz, rows) =>
      rows.map(_._3).sum / (rows.size / sz.toDouble) }
    assert(mass.forall(m => math.abs(m - 1.0) < 1e-6))
  }

  test("driver union-find fast path agrees with the distributed loop") {
    val vs = (0L to 40L).toDF("id")
    val es = (0L to 40L).sliding(2).map(p => (p(1), p(0))).toSeq ++
      Seq((50L, 60L)) // plus a vertex pair absent from `vs`' chain
    val esDf = (es: Seq[(Long, Long)]).toDF("id_a", "id_b")
    val loop = DupClusters.connectedComponents(vs, esDf, driverEdgeThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = DupClusters.connectedComponents(vs, esDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === loop)
  }

  test("clusterDedup keeps exactly one best row per cluster (not per pair)") {
    // chain 1~2~3: pair-local drop-id_b would keep {1}; cluster dedup
    // keeps the best by score — row 2 — exactly once.
    val df = Seq((1L, 10), (2L, 99), (3L, 50), (7L, 1)).toDF("id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = DupClusters.clusterDedup(df, "id", pairs, Seq(col("score"), -col("id")))
      .select("id").as[Long].collect().toSet
    assert(kept === Set(2L, 7L))
  }

  test("clusterStats summarizes the component structure") {
    val c = DupClusters.connectedComponents(
      Seq(1L, 2L, 3L, 4L, 9L).toDF("id"),
      Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"))
    val row = DupClusters.clusterStats(c).collect().head
    assert(row.getLong(0) === 3L, "clusters: {1,2,3} {4} {9}")
    assert(row.getLong(1) === 5L, "vertices")
    assert(row.getLong(2) === 3L, "vertices in dup clusters")
    assert(row.getLong(3) === 3L, "largest cluster")
    assert(row.getLong(4) === 2L, "removable rows")
  }

  test("components of the embedding pair graph agree with a driver-side union-find") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = Similarity.similarPairsInCells(emb, "vec_id", "embedding", t = 0.4, nCells = 4)
    val edges = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = emb.select("vec_id").as[Long].collect()
    // reference union-find on the driver (test-only)
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.map(i => i -> find(i)).toMap
    val got = DupClusters.connectedComponents(emb.select(col("vec_id")), pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(expected.values.toSet.size < ids.length, "fixture must contain real clusters")
  }
}
