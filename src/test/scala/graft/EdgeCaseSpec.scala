package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, DupClusters, Retrieval, Similarity, Split}

/** Degenerate-input hardening: every operator must behave sanely on
  * empty and single-row frames — a library user's first pipeline run
  * is usually against an empty dev bucket. */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def emptyDocs: DataFrame =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def oneDoc: DataFrame =
    Seq((1L, "a single document")).toDF("doc_id", "text")
  private def emptyVecs: DataFrame =
    Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")

  test("exact dedup family on empty and single-row frames") {
    assert(Dedup.keepBest(emptyDocs, col("doc_id"), Seq(col("doc_id"))).count() === 0)
    assert(Dedup.keepBestWindow(oneDoc, col("text"), Seq(col("doc_id").asc)).count() === 1)
    assert(Dedup.duplicateStats(oneDoc, Seq("text")).count() === 1)
  }

  test("minhash dedup family on empty and single-row frames") {
    assert(Dedup.minhashDedup(emptyDocs, "doc_id", col("text")).count() === 0)
    assert(Dedup.minhashDedup(oneDoc, "doc_id", col("text")).count() === 1)
    assert(Dedup.simhashDedup(oneDoc, "doc_id", col("text")).count() === 1)
    val sigs = Dedup.minhashSignatures(emptyDocs, "doc_id", col("text"))
    assert(Dedup.minhashDedupAgainst(oneDoc, "doc_id", col("text"), sigs).count() === 1)
  }

  test("jaccard joins on empty and single-row frames") {
    assert(Dedup.jaccardPairs(emptyDocs, "doc_id", col("text"), t = 0.8).count() === 0)
    assert(Dedup.jaccardPairs(oneDoc, "doc_id", col("text"), t = 0.8).count() === 0)
    assert(Dedup.jaccardJoin(oneDoc, "doc_id", col("text"),
      emptyDocs, "doc_id", col("text"), t = 0.5).count() === 0)
    assert(Dedup.decontaminate(oneDoc, "doc_id", col("text"),
      emptyDocs, "doc_id", col("text")).count() === 1)
    // both entries probe: an empty side must route cleanly (Σ dfL·dfR = 0)
    assert(Dedup.jaccardJoin(emptyDocs, "doc_id", col("text"),
      emptyDocs, "doc_id", col("text"), t = 0.8).count() === 0)
    assert(Dedup.ngramDedup(oneDoc, "doc_id", col("text")).count() === 1)
  }

  test("similarity search on empty frames") {
    assert(Similarity.similarPairs(emptyVecs, "vec_id", "embedding", t = 0.5).count() === 0)
    assert(Similarity.similarPairsApprox(emptyVecs, "vec_id", "embedding", t = 0.5).count() === 0)
    assert(Similarity.bruteForceTopK(emptyVecs, emptyVecs, "vec_id", "embedding", 5).count() === 0)
    assert(Dedup.embeddingDedup(emptyVecs, "vec_id", "embedding").count() === 0)
    assert(Dedup.semanticDedup(emptyVecs, "vec_id", "embedding").count() === 0)
    assert(graft.streaming.StreamOps.semanticDedupStream(
      graft.streaming.StreamOps.keyByCell(emptyVecs, "vec_id", "embedding")).count() === 0)
  }

  test("connected components on empty edge sets (both paths)") {
    val vs = Seq(1L, 2L).toDF("id")
    val noEdges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val fast = DupClusters.connectedComponents(vs, noEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === Map(1L -> 1L, 2L -> 2L))
    val loop = DupClusters.connectedComponents(vs, noEdges, driverEdgeThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(loop === fast)
  }

  test("retrieval and sampling on empty frames") {
    assert(Retrieval.bm25TopK(emptyDocs, "doc_id", col("text"), Seq("spark"), 5).count() === 0)
    assert(Split.budgetSample(emptyDocs, col("text"), col("doc_id"), length(col("text")), 100L).count() === 0)
    assert(Split.stratified(oneDoc, col("text"), col("doc_id")).count() === 1)
  }

  test("round-3 curation operators on empty and single-row frames") {
    assert(Dedup.dedupLines(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.dedupLines(oneDoc, "doc_id", "text")
      .select("text").as[String].head() === "a single document")
    assert(Dedup.simhashPairs(emptyDocs, "doc_id", col("text")).count() === 0)
    assert(Dedup.simhashNearDedup(oneDoc, "doc_id", col("text")).count() === 1)
    assert(graft.operators.Stats.dupNgramProfile(emptyDocs, "doc_id", col("text")).count() === 0)
    assert(graft.operators.Stats.quantileProfile(emptyDocs, col("doc_id"), Seq(0.5)).count() === 1)
    assert(Split.packSequences(emptyDocs, col("doc_id"), length(col("text")), 100L).count() === 0)
    val packedOne = Split.packSequences(oneDoc, col("doc_id"), length(col("text")), 100L)
      .select("pack_id", "pack_offset").as[(Long, Long)].head()
    assert(packedOne === ((0L, 0L)))
  }

  test("fuzzy spark.ml dedup on single-row frame") {
    assert(Dedup.fuzzyDedup(oneDoc, "doc_id", col("text")).count() === 1)
  }

  test("q81-q94 curation operators on empty and single-row frames") {
    import graft.operators.{Quality, Stats}
    import graft.streaming.StreamOps
    // contamination: empty eval set flags nothing; empty corpus is empty
    val profEmptyEval = Dedup.contaminationProfile(oneDoc, "doc_id", col("text"),
      emptyDocs, col("text"), nWords = 2)
    assert(profEmptyEval.count() === 1)
    assert(!profEmptyEval.head().getAs[Boolean]("contaminated"))
    assert(Dedup.contaminationProfile(emptyDocs, "doc_id", col("text"),
      oneDoc, col("text"), nWords = 2).count() === 0)
    // stateless gate with an EMPTY digest model keeps everything
    val noDigests = StreamOps.evalGramDigests(emptyDocs, col("text"), nWords = 2)
    assert(noDigests.isEmpty)
    assert(StreamOps.decontaminateStream(oneDoc, col("text"), noDigests, 2).count() === 1)
    assert(StreamOps.decontaminateStream(emptyDocs, col("text"), noDigests, 2).count() === 0)
    // line rules on empty frames and punctuation-free single docs
    assert(Quality.c4LineRules(emptyDocs, "text").count() === 0)
    assert(Quality.c4LineRules(oneDoc, "text", minKeptLines = 0).count() === 1)
    // selection / sampling
    assert(Quality.relativeFilter(emptyDocs, length(col("text")), col("text"),
      0.5, Seq(col("doc_id"))).count() === 0)
    assert(Quality.relativeFilter(oneDoc, length(col("text")), col("text"),
      0.5, Seq(col("doc_id"))).count() === 1, "a stratum always keeps one")
    assert(Split.temperatureSample(emptyDocs, col("text"), col("doc_id"), 10L, 0.5).count() === 0)
    assert(Split.temperatureSample(oneDoc, col("text"), col("doc_id"), 10L, 0.5).count() === 1)
    assert(Split.temperatureResample(emptyDocs, col("text"), col("doc_id"), 10L, 0.5).count() === 0)
    assert(Split.temperatureResample(oneDoc, col("text"), col("doc_id"), 10L, 0.5).count() === 10,
      "one doc upsampled to the whole quota")
    assert(Split.leakageSafeSplit(emptyDocs, "doc_id",
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() === 0)
    // scoring on empty models
    assert(Stats.importanceWeight(emptyDocs, "doc_id", col("text"),
      emptyDocs, col("text")).count() === 0)
    assert(Stats.bigramSurprisal(oneDoc, "doc_id", col("text")).count() === 1)
    assert(Stats.mixtureReport(emptyDocs, Seq(col("text")), length(col("text"))).count() === 0)
    assert(Stats.columnProfile(emptyDocs, Seq("doc_id", "text")).count() === 2,
      "profile rows exist even for an empty frame")
    // margin mining with an empty side mines nothing
    assert(Similarity.marginMine(emptyVecs,
      Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 2).count() === 0)
    // pii on empty strings
    assert(Seq("").toDF("s").select(graft.functions.analysis.redact_pii(col("s")))
      .head().getString(0) === "")
  }

  test("round-6 operators on empty and degenerate frames") {
    import graft.operators.{Bpe, Stats}
    // BPE: empty corpus trains an empty model; zero merges encode to chars
    val empty = Bpe.train(emptyDocs, col("text"), numMerges = 5)
    assert(empty.merges.isEmpty)
    val zero = Bpe.train(oneDoc, col("text"), numMerges = 0)
    assert(zero.merges.isEmpty)
    assert(oneDoc.select(zero.piecesOfText(col("text")).as("p"))
      .as[Seq[String]].head() ===
      "a single document".replace(" ", "").map(String.valueOf(_)).toSeq)
    // exhaustion: more merges requested than pairs exist stops early
    val tiny = Bpe.train(Seq("ab").toDF("text"), col("text"), numMerges = 100)
    assert(tiny.merges.map(_.toSeq).toSeq === Seq(Seq("a", "b")))

    // snapshotDiff with an empty side classifies everything one way
    val v = Seq((1L, "x"), (2L, "y")).toDF("id", "text")
    val ev = Seq.empty[(Long, String)].toDF("id", "text")
    assert(Stats.snapshotDiff(ev, v, "id", Seq("text"))
      .collect().map(_.getString(1)).toSet === Set("added"))
    assert(Stats.snapshotDiff(v, ev, "id", Seq("text"))
      .collect().map(_.getString(1)).toSet === Set("removed"))
    assert(Stats.snapshotDiff(ev, ev, "id", Seq("text")).count() === 0)

    // within-doc line dedup: separator absent → identity
    val noSep = Seq((1L, "no newlines here")).toDF("doc_id", "text")
    assert(Dedup.dedupLinesWithinDoc(noSep, "doc_id", "text")
      .head().getString(1) === "no newlines here")

    // compact: byte target far above the input → one file, content kept
    val base = java.nio.file.Files.createTempDirectory("graft-edge-compact").toString
    oneDoc.write.mode("overwrite").parquet(s"$base/in")
    val n = graft.sources.CorpusIO.compact(spark, s"$base/in", s"$base/out",
      targetBytes = Long.MaxValue)
    assert(n === 1 && spark.read.parquet(s"$base/out").count() === 1)
  }

  test("round-9 drift and cluster operators on empty and single-row frames") {
    import graft.operators.{Incremental, Stats}
    // drift against an EMPTY reference: every cur bucket spikes off
    // the eps floor, finitely — and the degenerate both-empty case is
    // an empty report, not a crash
    val d = Stats.driftReport(emptyDocs, oneDoc, Seq("len" -> length(col("text"))))
      .collect()
    assert(d.length === 1 && d(0).getAs[Long]("ref_n") === 0L)
    assert(!d(0).getAs[Double]("psi").isInfinite &&
      !d(0).getAs[Double]("psi").isNaN)
    assert(Stats.driftReport(emptyDocs, emptyDocs,
      Seq("len" -> length(col("text")))).count() === 0)
    assert(Stats.tokenDrift(emptyDocs, oneDoc, col("text"), k = 4)
      .collect().forall(_.getAs[String]("bucket") === "<other>"),
      "an empty reference vocabulary folds every token to <other>")
    assert(Stats.tokenDrift(oneDoc, emptyDocs, col("text"), k = 4)
      .collect().forall(_.getAs[Long]("cur_n") === 0L))
    // cluster state from an empty corpus: writable, probe-able,
    // appendable — a dev bucket's first run
    val dir = java.nio.file.Files.createTempDirectory("graft_edge_cl").toString
    val t = Incremental.ClusterTables(
      "t_edge_cl_post", s"$dir/post", "t_edge_cl_member", s"$dir/member",
      "t_edge_cl_alias", s"$dir/alias", "t_edge_cl_edges", s"$dir/edges",
      numBuckets = 2)
    try {
      Incremental.writeClusterState(emptyDocs, "doc_id", col("text"),
        n = 2, threshold = 0.5, t)
      assert(Incremental.resolveClusters(spark, t).count() === 0)
      val a = Incremental.appendClusters(oneDoc, "doc_id", col("text"),
        n = 2, threshold = 0.5, t)
      assert(a.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(1L -> 1L), "first doc into empty state founds its own cluster")
      // takedown of an id never ingested is a no-op, not a crash
      val t2 = Incremental.ClusterTables(
        "t_edge_cl2_post", s"$dir/post2", "t_edge_cl2_member", s"$dir/member2",
        "t_edge_cl2_alias", s"$dir/alias2", "t_edge_cl2_edges", s"$dir/edges2",
        numBuckets = 2)
      Incremental.takedownClusters(spark, Seq(99L).toDF("doc_id"), t, t2)
      assert(Incremental.resolveClusters(spark, t2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(1L -> 1L))
    } finally Seq("t_edge_cl_post", "t_edge_cl_member", "t_edge_cl_alias",
      "t_edge_cl_edges", "t_edge_cl2_post", "t_edge_cl2_member",
      "t_edge_cl2_alias", "t_edge_cl2_edges")
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
  }
}
