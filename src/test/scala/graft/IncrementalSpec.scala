package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Incremental}

/** Bucketed incremental-dedup state tables: identical output to the
  * non-persisted paths, and the batch-vs-corpus join must not shuffle
  * the corpus side (the whole point of storing the state bucketed). */
class IncrementalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("exactDedupAgainstTable equals the direct anti-join on normalized text") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val incoming = docs.filter(col("doc_id") % 3 === 0)
    Incremental.writeDigestTable(corpus, col("text"),
      "t_digests", tmp("graft_digests"), numBuckets = 8)
    try {
      val got = Incremental.exactDedupAgainstTable(
          incoming, col("text"), spark.table("t_digests"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val want = incoming.alias("i")
        .join(corpus.alias("c"),
          graft.functions.text.norm_key(col("i.text")) ===
            graft.functions.text.norm_key(col("c.text")),
          "left_anti")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === want)
      assert(got.nonEmpty && got.size < incoming.count(),
        "fixture must exercise both kept and dropped rows")
    } finally spark.sql("DROP TABLE IF EXISTS t_digests")
  }

  test("digest-table anti-join shuffles ONLY the incoming side") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val incoming = docs.filter(col("doc_id") % 3 === 0)
    Incremental.writeDigestTable(corpus, col("text"),
      "t_digests_plan", tmp("graft_digests_plan"), numBuckets = 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = Incremental.exactDedupAgainstTable(
        incoming, col("text"), spark.table("t_digests_plan"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && plan.contains("LeftAnti"),
        s"expected sort-merge anti-join:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
        s"exactly one shuffle (incoming side) expected:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"corpus scan must be bucket-aligned:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS t_digests_plan")
    }
  }

  test("minhashDedupAgainstTable equals minhashDedupAgainst (same signatures)") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    Incremental.writeBandedSignatures(corpus, "doc_id", col("text"),
      "t_banded", tmp("graft_banded"), numBuckets = 8,
      numPerm = 64, bands = 16)
    try {
      val fromTable = Incremental.minhashDedupAgainstTable(
          incoming, "doc_id", col("text"), spark.table("t_banded"),
          threshold = 0.8, numPerm = 64, bands = 16)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val direct = Dedup.minhashDedupAgainst(
          incoming, "doc_id", col("text"),
          Dedup.minhashSignatures(corpus, "doc_id", col("text"), numPerm = 64),
          threshold = 0.8, numPerm = 64, bands = 16)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(fromTable === direct)
      assert(fromTable.size < incoming.count(),
        "fixture must drop at least one near-duplicate")
    } finally spark.sql("DROP TABLE IF EXISTS t_banded")
  }

  test("banded-signature probe join does not re-shuffle the corpus side") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    Incremental.writeBandedSignatures(corpus, "doc_id", col("text"),
      "t_banded_plan", tmp("graft_banded_plan"), numBuckets = 8,
      numPerm = 64, bands = 16)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // probe the collision join itself (pre-anti-join, un-checkpointed),
      // where the corpus table participates
      val q = Incremental.fuzzyDupIds(
        incoming, "doc_id", col("text"), spark.table("t_banded_plan"),
        threshold = 0.8, numPerm = 64, bands = 16, shingleSize = 3)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"corpus side must scan bucket-aligned:\n$plan")
      // exactly one (band, bucket) shuffle — the incoming side; the
      // bucketed corpus scan feeds the SMJ without an exchange
      assert("Exchange hashpartitioning\\(band".r.findAllIn(plan).size === 1,
        s"only the incoming side may shuffle on (band, bucket):\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS t_banded_plan")
    }
  }

  test("semanticDedupAgainstTable equals the direct same-cell cosine anti-join") {
    import graft.operators.Similarity
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = embs.filter(col("vec_id") % 2 === 0)
    val incoming = embs.filter(col("vec_id") % 2 === 1)
    Incremental.writeCellVectors(corpus, "vec_id", "embedding",
      "t_cells", tmp("graft_cells"), numBuckets = 8, nCells = 16)
    try {
      val got = Incremental.semanticDedupAgainstTable(
          incoming, "vec_id", "embedding", spark.table("t_cells"),
          eps = 0.6, nCells = 16)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      // direct formulation: same hyperplane cell AND cosine >= 1-eps
      def keyed(df: org.apache.spark.sql.DataFrame, p: String) = {
        val vd = col("embedding").cast("array<double>")
        df.filter(vd.isNotNull && size(vd) > 0 && !exists(vd, x => isnan(x)))
          .select(col("vec_id").as(s"id$p"),
            Similarity.hyperplaneSignature(vd, Similarity.cellBits(16), 42L)
              .cast("int").as(s"cell$p"),
            vd.as(s"v$p"))
      }
      val dupDirect = keyed(incoming, "I").join(keyed(corpus, "C"),
          col("cellI") === col("cellC") &&
            Similarity.cosine(col("vI"), col("vC")) >= 0.4)
        .select(col("idI")).distinct()
      val want = incoming.join(dupDirect, col("vec_id") === col("idI"), "left_anti")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got === want)
      assert(got.nonEmpty && got.size < incoming.count(),
        "fixture must exercise both kept and dropped rows")
    } finally spark.sql("DROP TABLE IF EXISTS t_cells")
  }

  test("cell-vector probe join does not re-shuffle the corpus side; append keeps it usable") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = embs.filter(col("vec_id") % 3 === 0)
    val batch1 = embs.filter(col("vec_id") % 3 === 1)
    val batch2 = embs.filter(col("vec_id") % 3 === 2)
    Incremental.writeCellVectors(corpus, "vec_id", "embedding",
      "t_cells_plan", tmp("graft_cells_plan"), numBuckets = 8, nCells = 16)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = Incremental.cellDupIds(batch1, "vec_id", "embedding",
        spark.table("t_cells_plan"), eps = 0.6, nCells = 16, seed = 42L)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"corpus side must scan bucket-aligned:\n$plan")
      assert("Exchange hashpartitioning\\(cell".r.findAllIn(plan).size === 1,
        s"only the incoming side may shuffle on cell:\n$plan")
      // append batch1's survivors; batch2 must still probe the grown state
      val survivors = Incremental.semanticDedupAgainstTable(
        batch1, "vec_id", "embedding", spark.table("t_cells_plan"), eps = 0.6, nCells = 16)
      Incremental.appendCellVectors(survivors, "vec_id", "embedding",
        "t_cells_plan", numBuckets = 8, nCells = 16)
      val after = Incremental.semanticDedupAgainstTable(
          batch2, "vec_id", "embedding", spark.table("t_cells_plan"), eps = 0.6, nCells = 16)
        .count()
      assert(after > 0 && after <= batch2.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS t_cells_plan")
    }
  }

  test("appending a deduped batch keeps the digest table usable") {
    val corpus = docs.filter(col("doc_id") < 100)
    val batch = docs.filter(col("doc_id") >= 100 && col("doc_id") < 120)
    val path = tmp("graft_digests_append")
    Incremental.writeDigestTable(corpus, col("text"), "t_dig_app", path, numBuckets = 4)
    try {
      val survivors = Incremental.exactDedupAgainstTable(
        batch, col("text"), spark.table("t_dig_app"))
      // append the survivors' digests: state grows by batch, not corpus
      Incremental.appendDigests(survivors, col("text"), "t_dig_app", numBuckets = 4)
      val again = Incremental.exactDedupAgainstTable(
        batch, col("text"), spark.table("t_dig_app"))
      assert(again.count() === 0L,
        "after appending the batch, re-deduping it must drop every row")
    } finally spark.sql("DROP TABLE IF EXISTS t_dig_app")
  }

  test("state tables are parquet whatever the session's default source: write then append succeed") {
    // a write and the appends after it must agree on the table's
    // format, so neither may follow spark.sql.sources.default
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.default", "orc")
    val d = s.read.parquet(docs.inputFiles: _*)
    val sigs = d.select(col("doc_id"), Dedup.simhashSignature(col("text")).as("sig"))
    def provider(t: String): String =
      s.sql(s"DESCRIBE TABLE EXTENDED $t")
        .filter(col("col_name") === "Provider").head().getString(1)
    try {
      Incremental.writeDigestTable(d.filter(col("doc_id") < 100), col("text"),
        "t_orc_dig", tmp("graft_orc_dig"), numBuckets = 4)
      Incremental.appendDigests(d.filter(col("doc_id") >= 100), col("text"),
        "t_orc_dig", numBuckets = 4)
      Incremental.writeHammingState(sigs.filter(col("doc_id") % 2 === 0),
        "doc_id", "sig", "t_orc_hamm", tmp("graft_orc_hamm"),
        maxHamming = 8, numBuckets = 4)
      Incremental.appendHammingState(sigs.filter(col("doc_id") % 2 === 1),
        "doc_id", "sig", "t_orc_hamm", maxHamming = 8, numBuckets = 4)
      Incremental.writeIndexStats(d.filter(col("doc_id") < 100), col("text"),
        "t_orc_stats", tmp("graft_orc_stats"))
      Incremental.appendIndexStats(d.filter(col("doc_id") >= 100), col("text"),
        "t_orc_stats")
      for (t <- Seq("t_orc_dig", "t_orc_hamm", "t_orc_stats"))
        assert(provider(t) === "parquet", s"$t provider")
      assert(s.table("t_orc_dig").count() === d.count())
      assert(s.table("t_orc_stats").count() === 2L)
    } finally Seq("t_orc_dig", "t_orc_hamm", "t_orc_stats")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("snapshotDiffAgainstTable equals snapshotDiff; state side never shuffles") {
    import graft.operators.Stats
    val v1 = docs.select(col("doc_id"), col("text"), col("lang"))
    val v2 = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"),
        col("lang"))
      .unionByName(docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("lang")))
    Incremental.writeSnapshotTable(v1, "doc_id", Seq("text", "lang"),
      "t_snapshot", tmp("graft_snapshot"), numBuckets = 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = Incremental.snapshotDiffAgainstTable(
        v2, "doc_id", Seq("text", "lang"), spark.table("t_snapshot"))
      val plan = q.queryExecution.executedPlan.toString // pre-execution: single AQE section
      val got = q.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = Stats.snapshotDiff(v1, v2, "doc_id", Seq("text", "lang"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === want)
      assert(Set("added", "removed", "changed", "unchanged")
        .subsetOf(got.values.toSet),
        "fixture must exercise every change class")
      assert(plan.contains("SortMergeJoin") && plan.contains("FullOuter"),
        s"expected full-outer sort-merge join:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
        s"exactly one shuffle (new side) expected:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"snapshot scan must be bucket-aligned:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS t_snapshot")
    }
  }

  test("noveltyAgainstTable: hand-computed counts; append drives repeat batches to zero novelty") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e")).toDF("doc_id", "text") // grams: "a b c d", "b c d e"
    Incremental.writeGramTable(corpus, col("text"), 4,
      "t_grams", tmp("graft_grams"), numBuckets = 4)
    try {
      val batch = Seq(
        (10L, "a b c d x"),  // "a b c d" seen, "b c d x" new → 1/2
        (11L, "a b c"),      // no grams → novelty NULL
        (12L, "p q r s")     // one gram, new → 1/1
      ).toDF("doc_id", "text")
      val out = Incremental.noveltyAgainstTable(batch, "doc_id", col("text"),
          4, spark.table("t_grams"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
      assert(out(10L) === ((2L, 1L, Some(0.5))))
      assert(out(11L) === ((0L, 0L, None)))
      assert(out(12L) === ((1L, 1L, Some(1.0))))

      // duplicate-id batch rows (recurring-crawl reality): grams are
      // per-DOCUMENT distinct and the output stays one row per id
      val dup = Incremental.noveltyAgainstTable(
          batch.unionByName(batch.filter(col("doc_id") === 10)),
          "doc_id", col("text"), 4, spark.table("t_grams"))
      assert(dup.count() === 3)
      val dup10 = dup.filter(col("doc_id") === 10).collect().head
      assert((dup10.getLong(1), dup10.getLong(2)) === ((2L, 1L)))

      // absorb the batch; the SAME batch re-probed is now 0-novel
      Incremental.appendGrams(batch, col("text"), 4,
        spark.table("t_grams"), "t_grams", numBuckets = 4)
      val again = Incremental.noveltyAgainstTable(batch, "doc_id",
          col("text"), 4, spark.table("t_grams"))
        .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
      assert(again(10L) === Some(0.0) && again(12L) === Some(0.0))
      // append keeps state distinct: re-appending adds nothing
      val size1 = spark.table("t_grams").count()
      Incremental.appendGrams(batch, col("text"), 4,
        spark.table("t_grams"), "t_grams", numBuckets = 4)
      assert(spark.table("t_grams").count() === size1)
    } finally spark.sql("DROP TABLE IF EXISTS t_grams")
  }

  test("overlapAgainstTable: planted near-verbatim batch doc matches its corpus source; append absorbs") {
    import spark.implicits._
    val run = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val corpus = Seq(
      (1L, s"$run tail uno dos"),
      (2L, "completely different corpus content with nothing shared at all here")
    ).toDF("doc_id", "text")
    Incremental.writeFingerprintTable(corpus, "doc_id", col("text"),
      "t_fps", tmp("graft_fps"), k = 4, w = 4, maxDf = 8, numBuckets = 4)
    try {
      val batch = Seq(
        (10L, s"prefix words here $run and an ending"), // shares the 12-word run with 1
        (11L, "nothing in common with the corpus whatsoever in any way truly")
      ).toDF("doc_id", "text")
      val hits = Incremental.overlapAgainstTable(batch, "doc_id", col("text"),
          spark.table("t_fps"), k = 4, w = 4, minShared = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits === Set((10L, 1L)))
      // absorb doc 10; a re-crawl of it now also matches 10 itself
      Incremental.appendFingerprints(batch.filter(col("doc_id") === 10),
        "doc_id", col("text"), spark.table("t_fps"), "t_fps",
        k = 4, w = 4, numBuckets = 4)
      // idempotent: re-appending the same doc adds zero postings
      val size1 = spark.table("t_fps").count()
      Incremental.appendFingerprints(batch.filter(col("doc_id") === 10),
        "doc_id", col("text"), spark.table("t_fps"), "t_fps",
        k = 4, w = 4, numBuckets = 4)
      assert(spark.table("t_fps").count() === size1)
      val again = Incremental.overlapAgainstTable(
          batch.filter(col("doc_id") === 10)
            .withColumn("doc_id", lit(20L)),
          "doc_id", col("text"), spark.table("t_fps"),
          k = 4, w = 4, minShared = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(again === Set((20L, 1L), (20L, 10L)))
    } finally spark.sql("DROP TABLE IF EXISTS t_fps")
  }

  test("fingerprint probe join does not re-shuffle the state side") {
    Incremental.writeFingerprintTable(docs.filter(col("doc_id") < 300),
      "doc_id", col("text"), "t_fps_plan", tmp("graft_fps_plan"), numBuckets = 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = Incremental.overlapAgainstTable(docs.filter(col("doc_id") >= 300),
        "doc_id", col("text"), spark.table("t_fps_plan"))
      q.write.mode("overwrite").format("noop").save()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"state scan must be bucket-aligned:\n$plan")
      // exactly one fp-keyed shuffle — the batch posting side
      assert("Exchange hashpartitioning\\(fp".r.findAllIn(plan).size === 1,
        s"state side must not re-shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS t_fps_plan")
    }
  }

  test("seen-gram probe join does not re-shuffle the state side") {
    Incremental.writeGramTable(docs.filter(col("doc_id") < 300), col("text"),
      4, "t_grams_plan", tmp("graft_grams_plan"), numBuckets = 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = Incremental.noveltyAgainstTable(docs.filter(col("doc_id") >= 300),
        "doc_id", col("text"), 4, spark.table("t_grams_plan"))
      q.write.mode("overwrite").format("noop").save()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti"), s"anti-join probe expected:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"state scan must be bucket-aligned:\n$plan")
      // exactly one digest-keyed shuffle in the whole query — the
      // batch side of the probe; the state side reads bucket-aligned
      assert("Exchange hashpartitioning\\(__g1".r.findAllIn(plan).size === 1,
        s"state side must not re-shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS t_grams_plan")
    }
  }

  test("takedown: read-time retraction == compacted probe; tombstone append idempotent; compacted table stays bucket-aligned") {
    val corpus = docs.filter(col("doc_id") < 300)
    Incremental.writeFingerprintTable(corpus, "doc_id", col("text"),
      "t_td_fps", tmp("graft_td_fps"), numBuckets = 8)
    Incremental.writeTombstones(corpus.filter(col("doc_id") % 7 === 0),
      "doc_id", "t_td_tomb", tmp("graft_td_tomb"), numBuckets = 4)
    try {
      val batch = docs.filter(col("doc_id") >= 300)
      def pairs(state: org.apache.spark.sql.DataFrame) =
        Incremental.overlapAgainstTable(batch, "doc_id", col("text"), state)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = pairs(spark.table("t_td_fps"))
      // retraction at READ: broadcast anti-join between table and probe
      val readTime = pairs(Incremental.retractIds(
        spark.table("t_td_fps"), "corpus_id", spark.table("t_td_tomb")))
      assert(full.exists(_._2 % 7 === 0),
        "fixture must plant overlap with a retracted corpus doc")
      assert(readTime === full.filter(_._2 % 7 != 0))
      // compaction makes it physical: identical verdicts from the live table
      Incremental.compactState(spark.table("t_td_fps"), "corpus_id",
        spark.table("t_td_tomb"), "t_td_fps_live", tmp("graft_td_live"),
        Seq("fp"), numBuckets = 8)
      assert(pairs(spark.table("t_td_fps_live")) === readTime)
      assert(spark.table("t_td_fps_live")
        .filter(col("corpus_id") % 7 === 0).count() === 0L)
      // append idempotence: re-submitting the same takedown adds nothing
      val size1 = spark.table("t_td_tomb").count()
      Incremental.appendTombstones(corpus.filter(col("doc_id") % 7 === 0),
        "doc_id", spark.table("t_td_tomb"), "t_td_tomb", numBuckets = 4)
      assert(spark.table("t_td_tomb").count() === size1)
      // a NEW takedown batch lands, and retraction sees it immediately
      Incremental.appendTombstones(corpus.filter(col("doc_id") % 11 === 0),
        "doc_id", spark.table("t_td_tomb"), "t_td_tomb", numBuckets = 4)
      val wider = pairs(Incremental.retractIds(
        spark.table("t_td_fps"), "corpus_id", spark.table("t_td_tomb")))
      assert(wider === full.filter(p => p._2 % 7 != 0 && p._2 % 11 != 0))
      // plan shape: retraction is a BROADCAST anti-join (the big side
      // never shuffles), and the compacted table probes bucket-aligned
      val retPlan = Incremental.retractIds(
          spark.table("t_td_fps"), "corpus_id", spark.table("t_td_tomb"))
        .queryExecution.executedPlan.toString
      assert(retPlan.contains("BroadcastHashJoin") &&
        retPlan.contains("LeftAnti"), s"retraction must broadcast:\n$retPlan")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val q = Incremental.overlapAgainstTable(batch, "doc_id", col("text"),
          spark.table("t_td_fps_live"))
        q.write.mode("overwrite").format("noop").save()
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"),
          s"compacted state must stay bucket-aligned:\n$plan")
        assert("Exchange hashpartitioning\\(fp".r.findAllIn(plan).size === 1,
          s"compacted state must not re-shuffle:\n$plan")
      } finally spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", "10485760")
    } finally Seq("t_td_fps", "t_td_tomb", "t_td_fps_live")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("NB count log: merge == from-scratch retrain; compaction folds; dict merge is exchange-free") {
    import graft.operators.Classifier
    val label = col("n_chars") >= 300
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    Incremental.writeNbCounts(half1, col("text"), label,
      "t_nb_log", tmp("graft_nb_log"), numBuckets = 8)
    Incremental.appendNbCounts(half2, col("text"), label,
      "t_nb_log", numBuckets = 8)
    try {
      def dictMap(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val merged = dictMap(Incremental.nbDictFromTable(spark.table("t_nb_log")))
      val scratch = dictMap(Classifier.nbTrain(docs, col("text"), label))
      assert(merged.keySet === scratch.keySet)
      merged.foreach { case (t, w) =>
        assert(math.abs(w - scratch(t)) < 1e-12, s"token $t: $w vs ${scratch(t)}") }
      // the log has one block per append (some tokens twice);
      // compaction folds it to one row per token, dictionary unchanged
      val logRows = spark.table("t_nb_log").count()
      assert(logRows > merged.size, "fixture must produce a multi-block log")
      Incremental.compactNbCounts(spark.table("t_nb_log"),
        "t_nb_compact", tmp("graft_nb_compact"), numBuckets = 8)
      assert(spark.table("t_nb_compact").count() === merged.size.toLong)
      assert(dictMap(Incremental.nbDictFromTable(
        spark.table("t_nb_compact"))) === merged)
      // plan: the merge aggregation reads the bucketed log with NO
      // token-keyed exchange (the whole point of bucketing the state)
      val q = spark.table("t_nb_log").groupBy("token")
        .agg(sum("cpos").as("cpos"), sum("cneg").as("cneg"))
      q.write.mode("overwrite").format("noop").save()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"count log must scan bucket-aligned:\n$plan")
      assert(!"Exchange hashpartitioning\\(token".r.findFirstIn(plan).isDefined,
        s"dictionary merge must be bucket-local:\n$plan")
    } finally Seq("t_nb_log", "t_nb_compact")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("count-log appends are exactly-once: replayed batch ids no-op, dict/stats unchanged, markers survive compaction and rebuild") {
    import graft.operators.Classifier
    val label = col("n_chars") >= 300
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    try {
      // ---- NB count log ----
      Incremental.writeNbCounts(half1, col("text"), label,
        "t_nb_once", tmp("graft_nb_once"), numBuckets = 8, batchId = "w0")
      assert(Incremental.appendNbCounts(half2, col("text"), label,
        "t_nb_once", numBuckets = 8, batchId = "w1"))
      def dictMap(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val once = dictMap(Incremental.nbDictFromTable(spark.table("t_nb_once")))
      val rowsOnce = spark.table("t_nb_once").count()
      // the replay: a restarted orchestrator re-submits wave w1 —
      // detected in the DATA, zero rows written, dictionary identical
      assert(!Incremental.appendNbCounts(half2, col("text"), label,
        "t_nb_once", numBuckets = 8, batchId = "w1"),
        "a replayed batch id must report no-op")
      assert(spark.table("t_nb_once").count() === rowsOnce)
      assert(dictMap(Incremental.nbDictFromTable(
        spark.table("t_nb_once"))) === once)
      val scratch = dictMap(Classifier.nbTrain(docs, col("text"), label))
      assert(once.keySet === scratch.keySet)
      once.foreach { case (t, w) =>
        assert(math.abs(w - scratch(t)) < 1e-12,
          s"sanity vs retrain, token $t: $w vs ${scratch(t)}") }
      // compaction preserves the applied-id markers: the replay is
      // STILL a no-op against the compacted log
      Incremental.compactNbCounts(spark.table("t_nb_once"),
        "t_nb_once_c", tmp("graft_nb_once_c"), numBuckets = 8)
      assert(!Incremental.appendNbCounts(half2, col("text"), label,
        "t_nb_once_c", numBuckets = 8, batchId = "w1"))
      assert(dictMap(Incremental.nbDictFromTable(
        spark.table("t_nb_once_c"))) === once,
        "marker rows are zero-count: dictionary unchanged by them")
      // a genuinely NEW wave still applies after compaction
      assert(Incremental.appendNbCounts(half2.limit(5), col("text"), label,
        "t_nb_once_c", numBuckets = 8, batchId = "w2"))
      // ---- BM25 stats log ----
      Incremental.writeIndexStats(half1, col("text"),
        "t_bm_once", tmp("graft_bm_once"), batchId = "w0")
      assert(Incremental.appendIndexStats(half2, col("text"),
        "t_bm_once", batchId = "w1"))
      def stats() = spark.table("t_bm_once")
        .agg(sum("n_docs"), sum("sum_dl")).head()
      val s1 = stats()
      assert(!Incremental.appendIndexStats(half2, col("text"),
        "t_bm_once", batchId = "w1"), "stats replay must no-op")
      assert(stats() === s1, "N/avgdl inputs unchanged by the replay")
      // rebuild with priorStats carries the ledger: replay stays no-op
      Incremental.writePostings(docs, "doc_id", col("text"),
        "t_bm_once_post", tmp("graft_bm_once_post"), numBuckets = 8)
      Incremental.rebuildIndexStats(spark.table("t_bm_once_post"),
        "doc_id", "t_bm_once_r", tmp("graft_bm_once_r"),
        priorStats = spark.table("t_bm_once"))
      assert(!Incremental.appendIndexStats(half2, col("text"),
        "t_bm_once_r", batchId = "w1"),
        "applied ids survive the from-postings rebuild")
      // ---- the streaming shape: foreachBatch(batchDf, batchId) ----
      // Spark re-invokes foreachBatch with the SAME batchId after a
      // restart; the txn body below is exactly what a sink writes —
      // pin that a double invocation lands one block
      def txn(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
        Incremental.appendNbCounts(df, col("text"), label,
          "t_nb_once", numBuckets = 8, batchId = s"stream-$batchId")
        ()
      }
      val before = spark.table("t_nb_once").count()
      txn(half2.limit(3), 7L)
      val afterFirst = spark.table("t_nb_once").count()
      txn(half2.limit(3), 7L) // the post-restart replay
      assert(afterFirst > before &&
        spark.table("t_nb_once").count() === afterFirst,
        "foreachBatch replay semantics: same batchId appends once")
    } finally Seq("t_nb_once", "t_nb_once_c", "t_bm_once",
      "t_bm_once_post", "t_bm_once_r")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("BM25 index: probe-after-append == from-scratch bm25TopK; scan is bucket-pruned; df agg is exchange-free") {
    import graft.operators.Retrieval
    val terms = Seq("the", "data", "join")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    Incremental.writePostings(half1, "doc_id", col("text"),
      "t_bm25_post", tmp("graft_bm25_post"), numBuckets = 8)
    Incremental.appendPostings(half2, "doc_id", col("text"),
      "t_bm25_post", numBuckets = 8)
    Incremental.writeIndexStats(half1, col("text"),
      "t_bm25_stats", tmp("graft_bm25_stats"))
    Incremental.appendIndexStats(half2, col("text"), "t_bm25_stats")
    try {
      val got = Incremental.bm25AgainstIndex(spark.table("t_bm25_post"),
          spark.table("t_bm25_stats"), "doc_id", terms, k = 15)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val want = Retrieval.bm25TopK(docs, "doc_id", col("text"), terms, k = 15)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.nonEmpty, "fixture terms must hit documents")
      assert(got.toSeq === want.toSeq)
      // a wrong-shape posting frame must throw, not mis-score
      intercept[IllegalArgumentException](Incremental.bm25AgainstIndex(
        spark.table("t_bm25_post").withColumn("extra", lit(1)),
        spark.table("t_bm25_stats"), "doc_id", terms, k = 5))
      // plan: the probe reads ONLY the query terms' buckets (bucket
      // pruning on the IN filter) and the df aggregation is
      // bucket-local — no term-keyed exchange anywhere
      val hits = spark.table("t_bm25_post")
        .filter(col("term").isin(terms.map(t => t: Any): _*))
      val dfAgg = hits.groupBy("term").agg(count(lit(1)).as("df"))
      dfAgg.write.mode("overwrite").format("noop").save()
      val plan = dfAgg.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"posting scan must be bucket-aligned:\n$plan")
      assert("SelectedBucketsCount: \\d+ (\\()?out of 8".r.findFirstIn(plan).isDefined,
        s"term IN filter must prune buckets:\n$plan")
      assert(!"Exchange hashpartitioning\\(term".r.findFirstIn(plan).isDefined,
        s"df aggregation must be bucket-local:\n$plan")
    } finally Seq("t_bm25_post", "t_bm25_stats")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("Hamming state: probe-after-append == brute force; state side bucket-aligned, one exchange") {
    import spark.implicits._
    val sigs = docs.select(col("doc_id"),
      Dedup.simhashSignature(col("text")).as("sig")).cache()
    val cor = sigs.filter(col("doc_id") % 4 === 0)
    val grow = sigs.filter(col("doc_id") % 4 === 2)
    val batch = sigs.filter(col("doc_id") % 2 === 1)
    Incremental.writeHammingState(cor, "doc_id", "sig",
      "t_hamm", tmp("graft_hamm"), maxHamming = 8, numBuckets = 8)
    Incremental.appendHammingState(grow, "doc_id", "sig",
      "t_hamm", maxHamming = 8, numBuckets = 8)
    try {
      val kept = Incremental.hammingDedupAgainstTable(batch, "doc_id", "sig",
          spark.table("t_hamm"), maxHamming = 8)
        .select("doc_id").as[Long].collect().toSet
      // brute force over (written ∪ appended) state vs batch
      val corVals = sigs.filter(col("doc_id") % 2 === 0)
        .as[(Long, Long)].collect()
      val batchVals = batch.as[(Long, Long)].collect()
      val expected = batchVals.collect {
        case (id, s) if !corVals.exists { case (_, cs) =>
          java.lang.Long.bitCount(s ^ cs) <= 8 } => id
      }.toSet
      assert(kept === expected)
      // dropping REALLY happened (the fixture has near-dup texts)
      assert(kept.size < batchVals.length,
        "fixture produced no Hamming hits; assertions are vacuous")
      // plan: state side streams bucket-aligned, only the batch
      // (banded) side shuffles
      val dup = Incremental.hammingDupIdsAgainstTable(batch, "doc_id", "sig",
        spark.table("t_hamm"), maxHamming = 8)
      dup.write.mode("overwrite").format("noop").save()
      val plan = dup.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"state must be bucket-read:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 1,
        s"only the batch side may shuffle:\n$plan")
      // undecoded (null) signatures never pair
      val withNull = batch.union(Seq((999999L, null.asInstanceOf[java.lang.Long]))
        .toDF("doc_id", "sig").select(col("doc_id"), col("sig").cast("long")))
      val keptN = Incremental.hammingDedupAgainstTable(withNull, "doc_id", "sig",
          spark.table("t_hamm"), maxHamming = 8)
        .select("doc_id").as[Long].collect().toSet
      assert(keptN.contains(999999L))
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_hamm")
      sigs.unpersist(blocking = false)
    }
  }

  test("Hamming state: works for ANY signature column name, not just 'sig'") {
    // regression: the band expressions once referenced the SOURCE
    // column name after the projection renamed it to "sig" — every
    // caller with a differently-named column (dhash, ehash) failed
    // resolution; q144's literal "sig" masked it
    import spark.implicits._
    val sigs = docs.limit(50).select(col("doc_id"),
      Dedup.simhashSignature(col("text")).as("dhash"))
    Incremental.writeHammingState(sigs.filter(col("doc_id") % 2 === 0),
      "doc_id", "dhash", "t_hamm_dh", tmp("graft_hamm_dh"),
      maxHamming = 8, numBuckets = 4)
    try {
      val dup = Incremental.hammingDupIdsAgainstTable(
        sigs.filter(col("doc_id") % 2 === 1), "doc_id", "dhash",
        spark.table("t_hamm_dh"), maxHamming = 8)
      dup.count() // resolution + execution must both succeed
    } finally spark.sql("DROP TABLE IF EXISTS t_hamm_dh")
  }

  test("rebuildIndexStats: post-takedown stats == from-scratch over retained corpus; empty-doc caveat pinned") {
    import spark.implicits._
    val base = tmp("graft_rebuild_bm25")
    Seq("t_rb_post", "t_rb_stats", "t_rb_post2", "t_rb_stats2", "t_rb_tomb")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Incremental.writePostings(docs, "doc_id", col("text"),
      "t_rb_post", s"$base/post", numBuckets = 4)
    Incremental.writeIndexStats(docs, col("text"), "t_rb_stats", s"$base/stats")
    Incremental.writeTombstones(docs.filter(col("doc_id") % 6 === 0)
        .select("doc_id"), "doc_id", "t_rb_tomb", s"$base/tomb")
    try {
      // takedown: compact postings, then the epilogue under test
      Incremental.compactState(spark.table("t_rb_post"), "doc_id",
        spark.table("t_rb_tomb"), "t_rb_post2", s"$base/post2",
        bucketCols = Seq("term"), numBuckets = 4)
      Incremental.rebuildIndexStats(spark.table("t_rb_post2"), "doc_id",
        "t_rb_stats2", s"$base/stats2")
      // the OLD log still counts retracted docs; the rebuilt one must
      // equal a from-scratch build over the retained corpus (every
      // fixture doc tokenizes to >= 1 word, so the caveat is inert)
      val retained = docs.filter(col("doc_id") % 6 =!= 0)
      assert(retained.filter(size(operators.Retrieval.wordTokens(col("text"))) === 0)
        .count() === 0, "fixture assumption: no token-less docs")
      val got = spark.table("t_rb_stats2").select("n_docs", "sum_dl").as[(Long, Long)].head()
      val wantN = retained.count()
      val wantDl = retained.select(
        sum(size(operators.Retrieval.wordTokens(col("text"))).cast("long")))
        .head().getLong(0)
      assert(got === ((wantN, wantDl)))
      val stale = spark.table("t_rb_stats").select("n_docs", "sum_dl").as[(Long, Long)].head()
      assert(stale._1 > wantN, "old log must still count retracted docs")
      // probe after rebuild == from-scratch BM25 over the retained corpus
      val probe = Incremental.bm25AgainstIndex(spark.table("t_rb_post2"),
          spark.table("t_rb_stats2"), "doc_id",
          queryTerms = Seq("spark", "join"), k = 10)
        .as[(Long, Double)].collect().toSeq
      val scratch = operators.Retrieval.bm25TopK(retained, "doc_id",
          col("text"), Seq("spark", "join"), k = 10)
        .as[(Long, Double)].collect().toSeq
      assert(probe === scratch)
      // caveat pinned: a token-less doc is invisible to a from-postings
      // rebuild but counted by the corpus-side build
      val withEmpty = retained.select("doc_id", "text")
        .union(Seq((999999L, "")).toDF("doc_id", "text"))
      Incremental.writePostings(withEmpty, "doc_id", col("text"),
        "t_rb_post3", s"$base/post3", numBuckets = 4)
      Incremental.rebuildIndexStats(spark.table("t_rb_post3"), "doc_id",
        "t_rb_stats3", s"$base/stats3")
      assert(spark.table("t_rb_stats3").select("n_docs", "sum_dl").as[(Long, Long)].head()._1 === wantN)
      Incremental.writeIndexStats(withEmpty, col("text"),
        "t_rb_stats4", s"$base/stats4")
      assert(spark.table("t_rb_stats4").select("n_docs", "sum_dl").as[(Long, Long)].head()._1 === wantN + 1)
    } finally Seq("t_rb_post", "t_rb_stats", "t_rb_post2", "t_rb_stats2",
      "t_rb_post3", "t_rb_stats3", "t_rb_stats4", "t_rb_tomb")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("rebuildFingerprints: re-applied df cap == from-scratch build over the union") {
    import spark.implicits._
    val base = tmp("graft_rebuild_fp")
    Seq("t_rf_a", "t_rf_b").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // 12 docs sharing one 8-word boilerplate run + unique tails; with
    // maxDf = 8 the boilerplate fps are UNDER cap in corpus A (6 docs)
    // and must drop once appends push their df to 12
    val boiler = "alpha beta gamma delta epsilon zeta eta theta"
    def mk(id: Long) = (id, s"$boiler unique$id tail$id words$id here$id now$id")
    val a = (0L until 6L).map(mk).toDF("doc_id", "text")
    val b = (6L until 12L).map(mk).toDF("doc_id", "text")
    Incremental.writeFingerprintTable(a, "doc_id", col("text"),
      "t_rf_a", s"$base/a", k = 4, w = 4, maxDf = 8, numBuckets = 4)
    try {
      Incremental.appendFingerprints(b, "doc_id", col("text"),
        spark.table("t_rf_a"), "t_rf_a", k = 4, w = 4, numBuckets = 4)
      // drifted: some fp now has df 12 > 8 (the documented append gap)
      val over = spark.table("t_rf_a").groupBy("fp")
        .agg(count(lit(1)).as("df")).filter(col("df") > 8).count()
      assert(over > 0, "fixture must drift past the cap, or the test is vacuous")
      Incremental.rebuildFingerprints(spark.table("t_rf_a"), "t_rf_b",
        s"$base/b", maxDf = 8, numBuckets = 4)
      val rebuilt = spark.table("t_rf_b").as[(Long, Long)].collect().toSet
      // from-scratch over the union, same cap (no fp was over cap at
      // A's own build, so the rebuild's residual corner is not in play)
      Incremental.writeFingerprintTable(a.union(b), "doc_id", col("text"),
        "t_rf_c", s"$base/c", k = 4, w = 4, maxDf = 8, numBuckets = 4)
      val scratch = spark.table("t_rf_c").as[(Long, Long)].collect().toSet
      assert(rebuilt === scratch)
      assert(rebuilt.nonEmpty, "unique tails must keep under-cap fps")
    } finally Seq("t_rf_a", "t_rf_b", "t_rf_c")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("rebuildFingerprintsFromCorpus: full fidelity where the cheap rebuild's residual bites") {
    import spark.implicits._
    val base = tmp("graft_rebuild_fp_full")
    Seq("t_rff_a", "t_rff_cheap", "t_rff_full", "t_rff_scratch", "t_rff_tomb")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // THE CORNER: boilerplate over cap at A's OWN build (10 docs,
    // maxDf 8 → excluded from state), then appends re-admit it with
    // PARTIAL postings (3 B-docs ≤ cap). The state-sized rebuild sees
    // df = 3 and keeps the partial postings; only re-winnowing the
    // corpus re-counts df = 13 and re-excludes.
    val boiler = "alpha beta gamma delta epsilon zeta eta theta"
    def mk(id: Long) = (id, s"$boiler unique$id tail$id words$id here$id now$id")
    val a = (0L until 10L).map(mk).toDF("doc_id", "text")
    val b = (10L until 13L).map(mk).toDF("doc_id", "text")
    Incremental.writeFingerprintTable(a, "doc_id", col("text"),
      "t_rff_a", s"$base/a", k = 4, w = 4, maxDf = 8, numBuckets = 4)
    try {
      Incremental.appendFingerprints(b, "doc_id", col("text"),
        spark.table("t_rff_a"), "t_rff_a", k = 4, w = 4, numBuckets = 4)
      // cheap rebuild keeps the re-admitted boilerplate fp (df 3 ≤ 8)
      Incremental.rebuildFingerprints(spark.table("t_rff_a"),
        "t_rff_cheap", s"$base/cheap", maxDf = 8, numBuckets = 4)
      // full rebuild from retained text (retract id 5 on the way —
      // the takedown-cadence shape)
      Incremental.writeTombstones(Seq(5L).toDF("doc_id"), "doc_id",
        "t_rff_tomb", s"$base/tomb", numBuckets = 2)
      Incremental.rebuildFingerprintsFromCorpus(a.union(b), "doc_id",
        col("text"), spark.table("t_rff_tomb"), "t_rff_full",
        s"$base/full", k = 4, w = 4, maxDf = 8, numBuckets = 4)
      val full = spark.table("t_rff_full").as[(Long, Long)].collect().toSet
      // ≡ from-scratch build over retained — the q155 contract
      Incremental.writeFingerprintTable(
        a.union(b).filter(col("doc_id") =!= 5L), "doc_id", col("text"),
        "t_rff_scratch", s"$base/scratch", k = 4, w = 4, maxDf = 8,
        numBuckets = 4)
      val scratch = spark.table("t_rff_scratch").as[(Long, Long)].collect().toSet
      assert(full === scratch)
      assert(!full.exists(_._2 == 5L), "tombstoned doc's postings gone")
      // and the corner is REAL: the cheap rebuild differs here (it
      // kept boilerplate postings full fidelity re-excludes)
      val cheap = spark.table("t_rff_cheap").as[(Long, Long)].collect().toSet
      val cheapFps = cheap.map(_._1)
      val fullFps = full.map(_._1)
      assert((cheapFps -- fullFps).nonEmpty,
        "fixture must make the residual observable, or this test is vacuous")
    } finally Seq("t_rff_a", "t_rff_cheap", "t_rff_full", "t_rff_scratch",
      "t_rff_tomb").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("positional Hamming state: probe-after-append == brute force; bucket-aligned, batch-side-only exchange") {
    import spark.implicits._
    // 36 synthetic clips, 3 variants per scene: a variant matches its
    // scene base at 3 of 4 sampled positions (>= minFrames 2). Every
    // 10th clip corrupt -> no frame rows: clip 10 is scene 3's ONLY
    // even member, so decoded odd clips 9 and 11 have no state mate
    // and must SURVIVE (decoded-survivor coverage, not just corrupt)
    val clips = operators.Video.syntheticCorpus(
      spark.range(0, 36).toDF("doc_id"), "doc_id",
      variantsPerScene = 3, corruptEvery = 10)
    val sigs = operators.Video.frameSignatures(clips, "doc_id",
      col("content"), everyNth = 2).cache()
    val cor = sigs.filter(col("doc_id") % 4 === 0)
    val grow = sigs.filter(col("doc_id") % 4 === 2)
    val batch = sigs.filter(col("doc_id") % 2 === 1)
    Incremental.writeFrameHammingState(cor, "doc_id", "dhash",
      "t_fhamm", tmp("graft_fhamm"), maxHamming = 8, numBuckets = 8,
      everyNth = 2)
    Incremental.appendFrameHammingState(grow, "doc_id", "dhash",
      "t_fhamm", maxHamming = 8, numBuckets = 8, everyNth = 2)
    try {
      val dup = Incremental.frameHammingDupIdsAgainstTable(batch, "doc_id",
        "dhash", spark.table("t_fhamm"), maxHamming = 8, minFrames = 2,
        everyNth = 2)
      val dupIds = dup.as[Long].collect().toSet
      // brute force: batch clip drops when >= 2 distinct positions are
      // within 8 bits of SOME single state clip at the same position
      val corVals = sigs.filter(col("doc_id") % 2 === 0)
        .as[(Long, Int, Long)].collect()
        .groupBy(_._1).map { case (id, rs) =>
          id -> rs.map(r => r._2 -> r._3).toMap }
      val batVals = batch.as[(Long, Int, Long)].collect()
        .groupBy(_._1).map { case (id, rs) =>
          id -> rs.map(r => r._2 -> r._3).toMap }
      val expected = batVals.collect { case (id, frames)
        if corVals.values.exists { cf =>
          frames.count { case (p, s) =>
            cf.get(p).exists(cs => java.lang.Long.bitCount(s ^ cs) <= 8)
          } >= 2 } => id }.toSet
      assert(dupIds === expected)
      assert(dupIds.nonEmpty && dupIds.size < batVals.size,
        "fixture must produce hits AND survivors, or assertions are vacuous")
      // plan: state streams bucket-aligned; the ONLY (frame_pos, band,
      // bucket) exchange is the batch side's
      dup.write.mode("overwrite").format("noop").save()
      val plan = dup.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"state must be bucket-read:\n$plan")
      // a tiny batch may BROADCAST instead of shuffling (0 exchanges);
      // what must never appear is a SECOND state-key exchange — that
      // would mean the bucketed state side got re-shuffled
      assert("Exchange hashpartitioning\\(frame_pos".r.findAllIn(plan).length <= 1,
        s"only the batch side may shuffle on the state key:\n$plan")
      // clip-level dedup wrapper: corrupt clips (no frame rows) survive
      val kept = operators.Video.dedupAgainstState(
          clips.filter(col("doc_id") % 2 === 1), "doc_id", col("content"),
          spark.table("t_fhamm"), everyNth = 2, maxHamming = 8, minFrames = 2)
        .select("doc_id").as[Long].collect().toSet
      assert(kept === (1L until 36L by 2).toSet -- expected)
      // mismatched layout on the POSITIONAL probe fails loudly too
      intercept[IllegalArgumentException] {
        Incremental.frameHammingDupIdsAgainstTable(batch, "doc_id", "dhash",
          spark.table("t_fhamm"), maxHamming = 4, everyNth = 2)
      }
      // mismatched SAMPLING GRID fails loudly — a different stride
      // renumbers positions (silent false negatives otherwise)
      val eGrid = intercept[IllegalArgumentException] {
        Incremental.frameHammingDupIdsAgainstTable(batch, "doc_id", "dhash",
          spark.table("t_fhamm"), maxHamming = 8, minFrames = 2,
          everyNth = 4)
      }
      assert(eGrid.getMessage.contains("everyNth"))
      val eGridApp = intercept[IllegalArgumentException] {
        Incremental.appendFrameHammingState(grow, "doc_id", "dhash",
          "t_fhamm", maxHamming = 8, numBuckets = 8, everyNth = 1)
      }
      assert(eGridApp.getMessage.contains("everyNth"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_fhamm")
      sigs.unpersist(blocking = false)
    }
  }

  test("SHARDED positional state: title-card cluster bounded per shard, null shards one group, mixes refuse") {
    import spark.implicits._
    // the pathological shape the shard key exists for: EVERY clip is
    // the same title card (identical dhash at every position), so an
    // unsharded probe enumerates the full state×batch cross product
    // per position. Shards: nulls (id%5==0) fold to ONE group, "c" is
    // an odd-id-only shard (its members must SURVIVE a probe against
    // the even-id state), the rest split "a"/"b".
    val ids = (0L until 30L)
    def src(id: Long): Option[String] =
      if (id == 7 || id == 17) Some("c")
      else if (id % 5 == 0) None
      else if (id % 3 == 0) Some("a") else Some("b")
    val rows = for { id <- ids; p <- 0 until 4 }
      yield (id, p, 0xABCDL, src(id))
    val sigs = rows.toDF("doc_id", "frame_pos", "dhash", "src")
    val cor = sigs.filter(col("doc_id") % 2 === 0)
    val batch = sigs.filter(col("doc_id") % 2 === 1)
    Incremental.writeFrameHammingState(cor, "doc_id", "dhash",
      "t_fhamm_sh", tmp("graft_fhamm_sh"), maxHamming = 8, numBuckets = 4,
      everyNth = 2, shardCol = Some("src"))
    try {
      val dup = Incremental.frameHammingDupIdsAgainstTable(batch, "doc_id",
        "dhash", spark.table("t_fhamm_sh"), maxHamming = 8, minFrames = 2,
        everyNth = 2, shardCol = Some("src"))
      val dupIds = dup.as[Long].collect().toSet
      // brute force: odd id drops iff SOME even id shares its shard
      // (null ≡ null — one group); every position matches by fixture
      val evens = ids.filter(_ % 2 == 0).toSet
      val expected = ids.filter(_ % 2 == 1)
        .filter(id => evens.exists(e => src(e) == src(id))).toSet
      assert(dupIds === expected)
      // shard "c" members survive; null-group odds (5, 15, 25) drop
      // against even nulls (0, 10, 20) — the one-group contract
      assert(!dupIds.contains(7L) && !dupIds.contains(17L))
      assert(Set(5L, 15L, 25L).subsetOf(dupIds))
      // the shard rides the join key (bounding each enumeration to
      // the shard's clips) and the state still streams bucket-aligned
      dup.write.mode("overwrite").format("noop").save()
      val plan = dup.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"state must be bucket-read:\n$plan")
      assert(plan.contains("shard"), s"shard must ride the join key:\n$plan")
      // shardless probe of sharded state refuses LOUDLY (the _meta
      // flag), as does a sharded probe of unsharded state
      val eMix = intercept[IllegalArgumentException] {
        Incremental.frameHammingDupIdsAgainstTable(batch, "doc_id",
          "dhash", spark.table("t_fhamm_sh"), maxHamming = 8,
          minFrames = 2, everyNth = 2)
      }
      assert(eMix.getMessage.contains("shard"))
      Incremental.writeFrameHammingState(cor, "doc_id", "dhash",
        "t_fhamm_nosh", tmp("graft_fhamm_nosh"), maxHamming = 8,
        numBuckets = 4, everyNth = 2)
      val eMix2 = intercept[IllegalArgumentException] {
        Incremental.frameHammingDupIdsAgainstTable(batch, "doc_id",
          "dhash", spark.table("t_fhamm_nosh"), maxHamming = 8,
          minFrames = 2, everyNth = 2, shardCol = Some("src"))
      }
      assert(eMix2.getMessage.contains("UNSHARDED"))
      // sharded append then re-probe: appended shard rows participate
      val more = Seq((100L, 0, 0xABCDL, Option("c")),
        (100L, 1, 0xABCDL, Option("c")))
        .toDF("doc_id", "frame_pos", "dhash", "src")
      Incremental.appendFrameHammingState(more, "doc_id", "dhash",
        "t_fhamm_sh", maxHamming = 8, numBuckets = 4, everyNth = 2,
        shardCol = Some("src"))
      val dup2 = Incremental.frameHammingDupIdsAgainstTable(batch, "doc_id",
          "dhash", spark.table("t_fhamm_sh"), maxHamming = 8,
          minFrames = 2, everyNth = 2, shardCol = Some("src"))
        .as[Long].collect().toSet
      assert(dup2 === expected ++ Set(7L, 17L),
        "the appended 'c' state clip must now catch the 'c' batch clips")
    } finally {
      Seq("t_fhamm_sh", "t_fhamm_nosh")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("Hamming state is self-describing: mismatched probe/append FAIL loudly") {
    // the failure this closes is SILENT: a probe at a band layout
    // other than the write's gathers different strides and matches
    // NOTHING — false negatives in a dedup/compliance gate. The
    // in-table _meta row turns that into a loud refusal.
    val sigs = docs.limit(60).select(col("doc_id"),
      Dedup.simhashSignature(col("text")).as("sig"))
    Incremental.writeHammingState(sigs.filter(col("doc_id") % 2 === 0),
      "doc_id", "sig", "t_hamm_meta", tmp("graft_hamm_meta"),
      maxHamming = 8, numBuckets = 4)
    val probe = sigs.filter(col("doc_id") % 2 === 1)
    try {
      // state written at maxHamming=8 (5 strided bands); a probe at
      // maxHamming=4 (5 exact bands — same COUNT, different meaning)
      // and one at an overridden band count must both refuse
      val e1 = intercept[IllegalArgumentException] {
        Incremental.hammingDupIdsAgainstTable(probe, "doc_id", "sig",
          spark.table("t_hamm_meta"), maxHamming = 4)
      }
      assert(e1.getMessage.contains("maxHamming=8") &&
        e1.getMessage.contains("maxHamming=4"))
      // a copy of the table whose _meta row records another band
      // count (9 at maxHamming 8: layout v1, unsharded, grid 0) — as a
      // table written at a different layout would carry
      val otherBands = (1L << 32) | (8L << 16) | 9L
      val rebanded = spark.table("t_hamm_meta")
        .filter(col("band") =!= Incremental.HammingMetaBand)
        .unionByName(spark.range(1).select(lit(Incremental.HammingMetaBand).as("band"),
          lit(otherBands).as("bucket"), lit(null).cast("long").as("doc_id"),
          lit(otherBands).as("sig")))
      val e2 = intercept[IllegalArgumentException] {
        Incremental.hammingDupIdsAgainstTable(probe, "doc_id", "sig",
          rebanded, maxHamming = 8)
      }
      assert(e2.getMessage.contains("nBands=9"))
      // a mismatched APPEND must refuse BEFORE writing anything
      val before = spark.table("t_hamm_meta").count()
      intercept[IllegalArgumentException] {
        Incremental.appendHammingState(probe, "doc_id", "sig",
          "t_hamm_meta", maxHamming = 4, numBuckets = 4)
      }
      assert(spark.table("t_hamm_meta").count() === before,
        "refused append must not have written rows")
      // a table with no _meta row (pre-self-describing layout) refuses
      val metaless = spark.table("t_hamm_meta")
        .filter(col("band") =!= Incremental.HammingMetaBand)
      val e3 = intercept[IllegalArgumentException] {
        Incremental.hammingDupIdsAgainstTable(probe, "doc_id", "sig",
          metaless, maxHamming = 8)
      }
      assert(e3.getMessage.contains("no _meta row"))
      // and the MATCHING layout still probes fine (meta row inert)
      Incremental.hammingDupIdsAgainstTable(probe, "doc_id", "sig",
        spark.table("t_hamm_meta"), maxHamming = 8).count()
    } finally spark.sql("DROP TABLE IF EXISTS t_hamm_meta")
  }

  test("cluster state: join / found / BRIDGE-merge across waves; flat alias; resolve == batch clustering") {
    import spark.implicits._
    val d = tmp("graft_clusters")
    val t = Incremental.ClusterTables(
      "t_cl_post", s"$d/post", "t_cl_member", s"$d/member",
      "t_cl_alias", s"$d/alias", "t_cl_edges", s"$d/edges", numBuckets = 4)
    val tb = Incremental.ClusterTables(
      "t_clb_post", s"$d/bpost", "t_clb_member", s"$d/bmember",
      "t_clb_alias", s"$d/balias", "t_clb_edges", s"$d/bedges",
      numBuckets = 4)
    // word-2-gram Jaccard at 0.3: 1 and 2 are separate clusters until
    // the wave-2 BRIDGE doc 3 overlaps both; wave-3 doc 4 matches doc
    // 2's text and must resolve THROUGH the (2 → 1) alias; wave-4 doc
    // 0 (a smaller id) merges into cluster 1, forcing the existing
    // alias to REWRITE (2 → 0) so the table stays depth-1; doc 5 has
    // no 2-grams and stays a singleton
    val t1 = "alpha beta gamma delta"
    val t2 = "one two three four"
    val w1 = Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
    val w2 = Seq((3L, "alpha beta gamma one two three")).toDF("doc_id", "text")
    val w3 = Seq((4L, "one two three five"), (5L, "word")).toDF("doc_id", "text")
    val w4 = Seq((0L, "alpha beta gamma delta extra")).toDF("doc_id", "text")
    try {
      Incremental.writeClusterState(w1, "doc_id", col("text"),
        n = 2, threshold = 0.3, t)
      assert(Incremental.resolveClusters(spark, t)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(1L -> 1L, 2L -> 2L), "separate clusters before the bridge")
      val a2 = Incremental.appendClusters(w2, "doc_id", col("text"),
        n = 2, threshold = 0.3, t)
      assert(a2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(3L -> 1L), "the bridge joins the merged (min-label) cluster")
      assert(spark.table(t.aliasTable).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(2L -> 1L),
        "the larger canon retires behind an alias")
      val a3 = Incremental.appendClusters(w3, "doc_id", col("text"),
        n = 2, threshold = 0.3, t)
      assert(a3.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(4L -> 1L, 5L -> 5L),
        "membership of a retired canon resolves THROUGH the alias; " +
          "gram-less docs found singletons")
      Incremental.appendClusters(w4, "doc_id", col("text"),
        n = 2, threshold = 0.3, t)
      val alias = spark.table(t.aliasTable).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(alias === Map(2L -> 0L, 1L -> 0L),
        s"existing aliases REWRITE to the new canon (flat, depth-1): $alias")
      val resolved = Incremental.resolveClusters(spark, t)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(resolved ===
        Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 5L))
      // wave-order-independent equivalence: one batch clustering of
      // the union resolves identically
      Incremental.writeClusterState(
        w1.union(w2).union(w3).union(w4), "doc_id", col("text"),
        n = 2, threshold = 0.3, tb)
      val batch = Incremental.resolveClusters(spark, tb)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(resolved === batch, "incremental == batch over the union")
    } finally Seq(t, tb).foreach(x => Seq(x.postTable, x.memberTable,
      x.aliasTable, x.edgeTable)
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n")))
  }

  test("duplicate-clip compaction: title-card families collapse per shard, probe decisions unchanged") {
    import spark.implicits._
    val d = tmp("graft_framedup")
    // signatures pairwise > 8 bits apart across distinct values
    val S0 = 0L; val S1 = -1L; val O0 = 0xFFFFL
    val O1 = 0x0F0F0F0F0F0F0F0FL; val OX = 0xFF00FF00FF00L
    // shard a: 20 identical title-card clips (10..29), one SUBSET clip
    // (30 — genuinely different pair counts, must survive), one
    // distinct clip (31); shard b: 3 clips with the SAME sigs as the
    // a-family — families collapse WITHIN a shard only
    val family = (10L until 30L).flatMap(id =>
      Seq((id, "a", 0, S0), (id, "a", 1, S1)))
    val rest = Seq((30L, "a", 0, S0), (31L, "a", 0, O0), (31L, "a", 1, O1)) ++
      (40L until 43L).flatMap(id => Seq((id, "b", 0, S0), (id, "b", 1, S1)))
    val sigs = (family ++ rest).toDF("doc_id", "src", "frame_pos", "dhash")
    try {
      Incremental.writeFrameHammingState(sigs, "doc_id", "dhash",
        "t_fdup_state", s"$d/state", maxHamming = 8, numBuckets = 4,
        everyNth = 2, shardCol = Some("src"))
      val batch = Seq(
        (100L, "a", 0, S0), (100L, "a", 1, S1), // family match -> dup
        (101L, "a", 0, S0), (101L, "a", 1, OX), // 1 position only -> keep
        (102L, "b", 0, S0), (102L, "b", 1, S1), // shard-b family -> dup
        (103L, "a", 0, O0), (103L, "a", 1, O1)  // matches clip 31 -> dup
      ).toDF("doc_id", "src", "frame_pos", "dhash")
      def dupIds(table: String) =
        Incremental.frameHammingDupIdsAgainstTable(batch, "doc_id",
          "dhash", spark.table(table), maxHamming = 8, minFrames = 2,
          everyNth = 2, shardCol = Some("src"))
          .as[Long].collect().toSet
      val before = dupIds("t_fdup_state")
      assert(before === Set(100L, 102L, 103L))
      val dropped = Incremental.compactFrameHammingDuplicates(spark,
        "t_fdup_state", "t_fdup_state2", s"$d/state2", numBuckets = 4)
      assert(dropped === 21L, "19 a-family twins + 2 b-family twins")
      val keptIds = spark.table("t_fdup_state2")
        .filter(col("band") =!= Incremental.HammingMetaBand)
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(keptIds === Set(10L, 30L, 31L, 40L),
        "min id per identical family per shard; subset + distinct kept")
      assert(dupIds("t_fdup_state2") === before,
        "probe decisions unchanged by the compaction")
      // and the compacted table still appends (meta row carried over)
      Incremental.appendFrameHammingState(
        Seq((50L, "a", 0, OX)).toDF("doc_id", "src", "frame_pos", "dhash"),
        "doc_id", "dhash", "t_fdup_state2", maxHamming = 8,
        numBuckets = 4, everyNth = 2, shardCol = Some("src"))
    } finally Seq("t_fdup_state", "t_fdup_state2")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("retraction of a compacted representative re-elects a surviving twin (remap sidecar)") {
    import spark.implicits._
    val d = tmp("graft_framedup_retract")
    val S0 = 0L; val S1 = -1L; val O0 = 0xFFFFL
    val O1 = 0x0F0F0F0F0F0F0F0FL
    // same fixture family as the compaction test: 20 identical
    // title-card clips 10..29 in shard a, a subset clip 30, a
    // distinct clip 31, a 3-clip b family 40..42
    val family = (10L until 30L).flatMap(id =>
      Seq((id, "a", 0, S0), (id, "a", 1, S1)))
    val rest = Seq((30L, "a", 0, S0), (31L, "a", 0, O0), (31L, "a", 1, O1)) ++
      (40L until 43L).flatMap(id => Seq((id, "b", 0, S0), (id, "b", 1, S1)))
    val sigs = (family ++ rest).toDF("doc_id", "src", "frame_pos", "dhash")
    val batch = Seq(
      (100L, "a", 0, S0), (100L, "a", 1, S1), // a-family match
      (103L, "a", 0, O0), (103L, "a", 1, O1)  // matches clip 31
    ).toDF("doc_id", "src", "frame_pos", "dhash")
    def dupIds(table: String) =
      Incremental.frameHammingDupIdsAgainstTable(batch, "doc_id",
        "dhash", spark.table(table), maxHamming = 8, minFrames = 2,
        everyNth = 2, shardCol = Some("src"))
        .as[Long].collect().toSet
    val tables = Seq("t_fret_state", "t_fret_state2", "t_fret_state3",
      "t_fret_state4", "t_fret_state2_remap", "t_fret_state3_remap",
      "t_fret_state4_remap")
    try {
      Incremental.writeFrameHammingState(sigs, "doc_id", "dhash",
        "t_fret_state", s"$d/state", maxHamming = 8, numBuckets = 4,
        everyNth = 2, shardCol = Some("src"))
      Incremental.compactFrameHammingDuplicates(spark,
        "t_fret_state", "t_fret_state2", s"$d/state2", numBuckets = 4)
      // the remap sidecar landed: 19 + 2 dropped-twin rows
      val remap = spark.table("t_fret_state2_remap")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(remap === ((11L until 30L).map(_ -> 10L) ++
        Seq(41L -> 40L, 42L -> 40L)).toMap)
      // retract representative 10, one twin 11, and the singleton 31:
      // the a family must re-elect 12 (min SURVIVING twin), 31's rows
      // just delete, probe decisions for live content unchanged
      assert(dupIds("t_fret_state2") === Set(100L, 103L))
      Incremental.retractFrameHammingIds(spark,
        "t_fret_state2", "t_fret_state3", s"$d/state3",
        Seq(10L, 11L, 31L).toDF("doc_id"), numBuckets = 4)
      def keptIds(table: String) = spark.table(table)
        .filter(col("band") =!= Incremental.HammingMetaBand)
        .select("doc_id").distinct().as[Long].collect().toSet
      def remapOf(table: String) = spark.table(s"${table}_remap")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val kept = keptIds("t_fret_state3")
      assert(kept === Set(12L, 30L, 40L),
        s"family rows live on under the re-elected twin: $kept")
      // replaying the same tombstones against the retracted state is
      // a no-op pass: the same ids and the same remap
      Incremental.retractFrameHammingIds(spark,
        "t_fret_state3", "t_fret_state3b", s"$d/state3b",
        Seq(10L, 11L, 31L).toDF("doc_id"), numBuckets = 4)
      assert(keptIds("t_fret_state3b") === kept)
      assert(remapOf("t_fret_state3b") === remapOf("t_fret_state3"))
      spark.sql("DROP TABLE IF EXISTS t_fret_state3b")
      spark.sql("DROP TABLE IF EXISTS t_fret_state3b_remap")
      assert(dupIds("t_fret_state3") === Set(100L),
        "the family keeps suppressing; retracted 31 no longer matches")
      val remap3 = remapOf("t_fret_state3")
      assert(remap3 === ((13L until 30L).map(_ -> 12L) ++
        Seq(41L -> 40L, 42L -> 40L)).toMap,
        s"twins repoint to the new representative, depth 1: $remap3")
      // the retracted state still appends and re-compacts: nothing
      // new collapses (all families are single-representative now)
      val dropped2 = Incremental.compactFrameHammingDuplicates(spark,
        "t_fret_state3", "t_fret_state4", s"$d/state4", numBuckets = 4)
      assert(dropped2 === 0L)
      assert(dupIds("t_fret_state4") === Set(100L))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("winnow-backed clusters: waves == batch, takedown overlay honored by the fp probe") {
    import spark.implicits._
    val d = tmp("graft_winnow_clusters")
    def tabs(tag: String) = Incremental.ClusterTables(
      s"t_wc_post$tag", s"$d/post$tag", s"t_wc_member$tag", s"$d/member$tag",
      s"t_wc_alias$tag", s"$d/alias$tag", s"t_wc_edges$tag", s"$d/edges$tag",
      numBuckets = 4)
    val t = tabs(""); val tb = tabs("b")
    def resolved(x: Incremental.ClusterTables) =
      Incremental.resolveClusters(spark, x).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // k=4, w=4 ⇒ docs need ≥ 7 words for any fingerprint; sharing a
    // ≥ 7-word run guarantees a shared fingerprint (the winnowing
    // bound). Doc 5 is too short for fingerprints → singleton.
    // 14-word runs: two disjoint k+w-1 = 7-word windows each, so any
    // two docs sharing a run share ≥ 2 DISTINCT fingerprints (the
    // winnowing guarantee per window) — minShared = 2 links reliably
    val run = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi"
    val other = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen"
    val w1 = Seq((1L, s"$run tail one"), (2L, s"$other tail two"))
      .toDF("doc_id", "text")
    val w2 = Seq((3L, s"$run $other")).toDF("doc_id", "text") // bridge
    val w3 = Seq((0L, s"$run prefix zero"), (5L, "short words only"))
      .toDF("doc_id", "text")
    try {
      Incremental.writeWinnowClusterState(w1, "doc_id", col("text"), t)
      Incremental.appendWinnowClusters(w2, "doc_id", col("text"), t)
      Incremental.appendWinnowClusters(w3, "doc_id", col("text"), t)
      val inc = resolved(t)
      Incremental.writeWinnowClusterState(
        w1.union(w2).union(w3), "doc_id", col("text"), tb)
      assert(inc === resolved(tb),
        s"incremental winnow clusters == batch over the union: $inc")
      assert(inc(5L) === 5L, "fingerprint-less docs found singletons")
      assert(inc(0L) === inc(1L) && inc(1L) === inc(2L),
        "the bridge doc merged both runs' clusters")
      // takedown overlay: retract the bridge; a NEW doc matching the
      // retracted text must not link through its (still-persisted)
      // postings
      Incremental.patchTakedownClusters(spark, Seq(3L).toDF("doc_id"), t)
      val after = resolved(t)
      assert(!after.contains(3L) && after(1L) != after(2L),
        s"retracting the bridge splits the merged cluster: $after")
      val a = Incremental.appendWinnowClusters(
        Seq((9L, s"$run $other")).toDF("doc_id", "text"),
        "doc_id", col("text"), t)
      val m9 = a.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m9 === Map(9L -> 0L),
        s"9 re-merges both runs through its OWN live matches: $m9")
      // ...but never through 3's tombstoned postings: the edge table
      // must carry no (9,3) edge in either direction
      val edges9 = spark.table(t.edgeTable)
        .filter((col("src") === 9L && col("dst") === 3L) ||
          (col("src") === 3L && col("dst") === 9L)).count()
      assert(edges9 === 0L,
        "tombstoned postings must not pair with new waves")
    } finally Seq(t, tb).foreach(x => Seq(x.postTable, x.memberTable,
      x.aliasTable, x.edgeTable, s"${x.memberTable}_tomb",
      s"${x.memberTable}_patch")
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n")))
  }

  test("recoverClusters carries the tombstone overlay to the recovered state") {
    import spark.implicits._
    val d = tmp("graft_cluster_recover_tomb")
    val t = Incremental.ClusterTables(
      "t_crt_post", s"$d/post", "t_crt_member", s"$d/member",
      "t_crt_alias", s"$d/alias", "t_crt_edges", s"$d/edges",
      numBuckets = 4)
    val rt = t.copy(memberTable = "t_crt_member_r",
      memberPath = s"$d/member_r", aliasTable = "t_crt_alias_r",
      aliasPath = s"$d/alias_r")
    try {
      Incremental.writeClusterState(
        Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
          .toDF("doc_id", "text"), "doc_id", col("text"),
        n = 2, threshold = 0.3, t)
      // patch-takedown doc 1: overlay tombstone, postings/edges keep it
      Incremental.patchTakedownClusters(spark, Seq(1L).toDF("doc_id"), t)
      Incremental.recoverClusters(spark, t, rt)
      assert(spark.catalog.tableExists(s"${rt.memberTable}_tomb"),
        "the tombstone table must be recreated under nt's derived name")
      assert(spark.table(s"${rt.memberTable}_tomb")
        .as[Long].collect().toSet === Set(1L))
      // a post-recovery wave matching ONLY the tombstoned text must
      // found its own cluster AND leave no persisted edge to the
      // retracted id (its postings are filtered by the carried
      // tombstones — without the copy they would match again)
      val a = Incremental.appendClusters(
        Seq((9L, "alpha beta gamma delta")).toDF("doc_id", "text"),
        "doc_id", col("text"), n = 2, threshold = 0.3, rt)
      assert(a.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(9L -> 9L))
      val edges9 = spark.table(rt.edgeTable)
        .filter(col("src") === 9L || col("dst") === 9L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(edges9 === Set.empty,
        s"retracted content must not bridge the new doc: $edges9")
    } finally Seq(t.postTable, t.memberTable, t.aliasTable, t.edgeTable,
      s"${t.memberTable}_tomb", s"${t.memberTable}_patch",
      rt.memberTable, rt.aliasTable, s"${rt.memberTable}_tomb")
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
  }

  test("alias rewrite is blue/green: versioned dirs, current+previous retained; recoverClusters rebuilds from edges") {
    import spark.implicits._
    val d = tmp("graft_cluster_bg")
    val t = Incremental.ClusterTables(
      "t_cbg_post", s"$d/post", "t_cbg_member", s"$d/member",
      "t_cbg_alias", s"$d/alias", "t_cbg_edges", s"$d/edges",
      numBuckets = 4)
    val rt = t.copy(memberTable = "t_cbg_member_r",
      memberPath = s"$d/member_r", aliasTable = "t_cbg_alias_r",
      aliasPath = s"$d/alias_r")
    def exists(p: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    def resolved(x: Incremental.ClusterTables) =
      Incremental.resolveClusters(spark, x).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w1 = Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("doc_id", "text")
    val w2 = Seq((3L, "alpha beta gamma one two three")).toDF("doc_id", "text")
    val w3 = Seq((4L, "one two three five"), (5L, "word")).toDF("doc_id", "text")
    val w4 = Seq((0L, "alpha beta gamma delta extra")).toDF("doc_id", "text")
    val w5 = Seq((-5L, "alpha beta gamma delta")).toDF("doc_id", "text")
    try {
      Incremental.writeClusterState(w1, "doc_id", col("text"),
        n = 2, threshold = 0.3, t)
      // every append lands its alias rewrite in a FRESH versioned dir
      // and repoints the table — never an in-place overwrite of the
      // directory the live table reads
      Incremental.appendClusters(w2, "doc_id", col("text"), n = 2,
        threshold = 0.3, t)
      assert(exists(s"$d/alias_v0"), "first rewrite lands in alias_v0")
      Incremental.appendClusters(w3, "doc_id", col("text"), n = 2,
        threshold = 0.3, t)
      assert(exists(s"$d/alias_v1") && exists(s"$d/alias_v0"),
        "current + previous versions retained")
      Incremental.appendClusters(w4, "doc_id", col("text"), n = 2,
        threshold = 0.3, t)
      assert(exists(s"$d/alias_v2") && exists(s"$d/alias_v1") &&
        !exists(s"$d/alias_v0"), "versions older than current-1 reaped")
      Incremental.appendClusters(w5, "doc_id", col("text"), n = 2,
        threshold = 0.3, t)
      val want = Map(-5L -> -5L, 0L -> -5L, 1L -> -5L, 2L -> -5L,
        3L -> -5L, 4L -> -5L, 5L -> 5L)
      assert(resolved(t) === want, "merges resolve through versioned alias")
      // crash window between catalog drop and re-create: resolution is
      // LOUD (missing table), never silently-stale labels
      spark.sql(s"DROP TABLE ${t.aliasTable}")
      intercept[org.apache.spark.sql.AnalysisException] {
        Incremental.resolveClusters(spark, t).collect()
      }
      // recovery: canonical labels rebuilt from the persisted edges +
      // membership alone — no alias table, no text
      Incremental.recoverClusters(spark, t, rt)
      assert(resolved(rt) === want,
        "recoverClusters must reproduce the exact canonical labels")
      assert(spark.table(rt.aliasTable).count() === 0,
        "recovered state starts with a fresh (empty) alias")
    } finally Seq(t.postTable, t.memberTable, t.aliasTable, t.edgeTable,
      rt.memberTable, rt.aliasTable)
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
  }

  test("patched takedown ≡ blue/green: splits, canon re-election through alias cleanup, post-patch waves, compaction") {
    import spark.implicits._
    val d = tmp("graft_cluster_patch")
    def tabs(tag: String) = Incremental.ClusterTables(
      s"t_cpt_post$tag", s"$d/post$tag", s"t_cpt_member$tag", s"$d/member$tag",
      s"t_cpt_alias$tag", s"$d/alias$tag", s"t_cpt_edges$tag", s"$d/edges$tag",
      numBuckets = 4)
    val tA = tabs("a")            // the patched state
    val tAc = tabs("ac")          // its compaction target
    val tB = tabs("b"); val tB1 = tabs("b1"); val tB2 = tabs("b2")
    def resolved(t: Incremental.ClusterTables) =
      Incremental.resolveClusters(spark, t).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the merge-heavy fixture: w2's bridge creates alias (2→1), w3's
    // smaller id 0 rewrites it to (2→0),(1→0) — so retracting 0 later
    // re-elects labels that ARE alias keys (the collision the patch
    // path must clean up)
    val w1 = Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("doc_id", "text")
    val w2 = Seq((3L, "alpha beta gamma one two three")).toDF("doc_id", "text")
    val w3 = Seq((0L, "alpha beta gamma delta extra"),
      (4L, "one two three five"), (5L, "word")).toDF("doc_id", "text")
    val w4 = Seq((6L, "one two three six"), (7L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val allTabs = Seq(tA, tAc, tB, tB1, tB2)
    try {
      Seq(tA, tB).foreach { t =>
        Incremental.writeClusterState(w1, "doc_id", col("text"),
          n = 2, threshold = 0.3, t)
        Seq(w2, w3).foreach(w => Incremental.appendClusters(w, "doc_id",
          col("text"), n = 2, threshold = 0.3, t))
      }
      assert(resolved(tA) ===
        Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 5L))
      // takedown the BRIDGE and the CANON at once: the cluster must
      // split {1} / {2,4}, labels 1 and 2 — both former alias keys
      val rid1 = Seq(3L, 0L).toDF("doc_id")
      Incremental.patchTakedownClusters(spark, rid1, tA)
      Incremental.takedownClusters(spark, rid1, tB, tB1)
      val want1 = Map(1L -> 1L, 2L -> 2L, 4L -> 2L, 5L -> 5L)
      assert(resolved(tB1) === want1, "blue/green ground truth")
      assert(resolved(tA) === want1,
        "patched resolve ≡ blue/green after split + re-election")
      assert(Incremental.clusterPatchLoad(spark, tA) > 0.0)
      // a wave APPENDED AFTER the patch: 6 joins the re-elected {2,4};
      // 7 matches BOTH retained 1 and tombstoned 0's text — the
      // tombstone-filtered probe must link it through 1 only
      Incremental.appendClusters(w4, "doc_id", col("text"),
        n = 2, threshold = 0.3, tA)
      Incremental.appendClusters(w4, "doc_id", col("text"),
        n = 2, threshold = 0.3, tB1)
      val want2 = want1 ++ Map(6L -> 2L, 7L -> 1L)
      assert(resolved(tB1) === want2)
      assert(resolved(tA) === want2, "overlay-aware append ≡ blue/green append")
      // SECOND patch (merging with the first): retract the re-elected
      // canon 2 → {4,6} re-elect 4
      val rid2 = Seq(2L).toDF("doc_id")
      Incremental.patchTakedownClusters(spark, rid2, tA)
      Incremental.takedownClusters(spark, rid2, tB1, tB2)
      val want3 = Map(1L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 4L, 7L -> 1L)
      assert(resolved(tB2) === want3)
      assert(resolved(tA) === want3, "stacked patches ≡ stacked rewrites")
      // plan shape: the overlay costs BROADCASTS only — resolution
      // adds zero hash exchanges on top of the membership scan
      val rplan = Incremental.resolveClusters(spark, tA)
        .queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(rplan).size === 0,
        s"patched resolve must not shuffle anything:\n$rplan")
      assert("BroadcastExchange".r.findAllIn(rplan).size >= 2,
        s"patch + tombstones ride as broadcasts:\n$rplan")
      // compaction bakes the overlay in: same resolution, empty ledger
      Incremental.compactClusterPatches(spark, tA, tAc)
      assert(resolved(tAc) === want3, "compaction preserves resolution")
      assert(Incremental.clusterPatchLoad(spark, tAc) === 0.0)
      // and the compacted state keeps appending normally
      Incremental.appendClusters(
        Seq((8L, "one two three seven")).toDF("doc_id", "text"),
        "doc_id", col("text"), n = 2, threshold = 0.3, tAc)
      assert(resolved(tAc) === want3 + (8L -> 4L))
    } finally allTabs.foreach(x => Seq(x.postTable, x.memberTable,
      x.aliasTable, x.edgeTable, s"${x.memberTable}_patch",
      s"${x.memberTable}_tomb")
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n")))
  }

  test("cluster takedown: retracting the BRIDGE splits; retracting the canon re-elects; state stays appendable") {
    import spark.implicits._
    val d = tmp("graft_cluster_td")
    def tabs(v: String) = Incremental.ClusterTables(
      s"t_ctd_post$v", s"$d/post$v", s"t_ctd_member$v", s"$d/member$v",
      s"t_ctd_alias$v", s"$d/alias$v", s"t_ctd_edges$v", s"$d/edges$v",
      numBuckets = 4)
    val t0 = tabs("0"); val t1 = tabs("1"); val t2 = tabs("2")
    // the q160-spec chain: {0,1} ~ 3 ~ {2,4} all one cluster via the
    // BRIDGE doc 3 (no direct 1~2 edge), 5 a gram-less singleton
    val corpus = Seq(
      (0L, "alpha beta gamma delta extra"),
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four"),
      (3L, "alpha beta gamma one two three"),
      (4L, "one two three five"),
      (5L, "word")).toDF("doc_id", "text")
    try {
      Incremental.writeClusterState(corpus.filter(col("doc_id") < 4),
        "doc_id", col("text"), n = 2, threshold = 0.3, t0)
      Incremental.appendClusters(corpus.filter(col("doc_id") >= 4),
        "doc_id", col("text"), n = 2, threshold = 0.3, t0)
      assert(Incremental.resolveClusters(spark, t0).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 5L))
      // retract the bridge: the cluster must SPLIT — an in-place
      // membership filter would leave 2 and 4 labeled 0 forever
      Incremental.takedownClusters(spark,
        Seq(3L).toDF("doc_id"), t0, t1)
      val afterBridge = Incremental.resolveClusters(spark, t1).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(afterBridge ===
        Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 4L -> 2L, 5L -> 5L),
        s"bridge removal must split the cluster: $afterBridge")
      assert(spark.table(t1.aliasTable).count() === 0,
        "takedown bakes aliases into a fresh slate")
      // retract the CANON of {0,1}: min retained id re-elects
      Incremental.takedownClusters(spark, Seq(0L).toDF("doc_id"), t1, t2)
      val afterCanon = Incremental.resolveClusters(spark, t2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(afterCanon === Map(1L -> 1L, 2L -> 2L, 4L -> 2L, 5L -> 5L),
        s"canon retraction re-elects the min retained id: $afterCanon")
      // the post-takedown state still ingests: a near-copy of doc 2
      // joins cluster 2 through the rewritten postings
      val a = Incremental.appendClusters(
        Seq((6L, "one two three six")).toDF("doc_id", "text"),
        "doc_id", col("text"), n = 2, threshold = 0.3, t2)
      assert(a.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(6L -> 2L))
      // and a near-copy of the fully-retracted bridge text matches
      // only the RETAINED halves it still overlaps
      val b = Incremental.appendClusters(
        Seq((7L, "alpha beta gamma delta seven")).toDF("doc_id", "text"),
        "doc_id", col("text"), n = 2, threshold = 0.3, t2)
      assert(b.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(7L -> 1L), "retracted docs' postings are gone from the probe")
    } finally Seq(t0, t1, t2).foreach(x => Seq(x.postTable, x.memberTable,
      x.aliasTable, x.edgeTable)
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n")))
  }

  test("cluster state: the wave probe never shuffles the corpus-side gram table") {
    val d = tmp("graft_clusters_plan")
    val t = Incremental.ClusterTables(
      "t_clp_post", s"$d/post", "t_clp_member", s"$d/member",
      "t_clp_alias", s"$d/alias", "t_clp_edges", s"$d/edges",
      numBuckets = 4)
    try {
      Incremental.writeClusterState(docs.filter(col("doc_id") < 40),
        "doc_id", col("text"), n = 4, threshold = 0.4, t)
      // the probe join plan: with broadcast off (the cluster-scale
      // shape — a wave is not broadcastable at 100 TB) the state
      // postings scan must be bucketed, i.e. read with NO exchange
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = try {
        val statePosts = spark.table(t.postTable)
        statePosts.join(
          docs.filter(col("doc_id") >= 40 && col("doc_id") < 60)
            .select(col("doc_id"),
              xxhash64(col("text")).as("g1"),
              xxhash64(col("text"), lit(1)).as("g2")),
          Seq("g1", "g2")).queryExecution.executedPlan.toString
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      assert(plan.contains("Bucketed: true"),
        s"state gram table must be read bucket-aligned:\n$plan")
      // and the real append returns assignments for every wave doc
      val waveIds = Incremental.appendClusters(
        docs.filter(col("doc_id") >= 40 && col("doc_id") < 60),
        "doc_id", col("text"), n = 4, threshold = 0.4, t)
      assert(waveIds.count() === 20)
    } finally Seq(t.postTable, t.memberTable, t.aliasTable, t.edgeTable)
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
  }

  test("wavePostings: map-side form equals the distinct+count-join reference") {
    import spark.implicits._
    // repeated grams within a doc (the array_distinct case), short
    // docs below the gram size (zero-gram: must emit NO rows), and a
    // doc of all-identical words (one distinct gram)
    val waves = Seq(
      (1L, "a b c a b c a b"), // repeated 2-grams
      (2L, "x y"),             // exactly one 2-gram
      (3L, "solo"),            // below gram size — no rows
      (4L, "w w w w w")        // one distinct gram from many windows
    ).toDF("doc_id", "text")
    val got = Incremental.wavePostings(waves, "doc_id", col("text"), 2)
    // the pre-round-13 formulation: explode → global distinct →
    // per-doc count joined back (same columns, three exchanges)
    val grams = waves.select(col("doc_id"),
        explode(array_distinct(Dedup.wordNGrams(col("text"), 2))).as("__g"))
      .select(col("doc_id"), xxhash64(col("__g")).as("__g1"),
        xxhash64(col("__g"), lit(1)).as("__g2"))
      .distinct()
    val ref = grams.join(
      grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams")),
      Seq("doc_id"))
    val k = (df: org.apache.spark.sql.DataFrame) => df
      .select("doc_id", "__g1", "__g2", "n_grams").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(k(got) === k(ref))
    assert(!got.collect().map(_.getLong(0)).contains(3L),
      "gram-less docs emit no posting rows")
    // the new form is exchange-free: no shuffle before the checkpoint
    assert(got.rdd.getNumPartitions > 0) // smoke: materialized fine
  }
}
