package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The recurring-ingestion wave loop: three waves + a takedown, with
  * gold asserted IDENTICAL to the from-scratch batch pipeline over the
  * union after every step — including the round-5 chain shape (a doc
  * similar only to an already-DROPPED doc must still drop) and
  * content-keyed digest compaction on takedown. */
class IngestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // 80-word deterministic texts; near-dup structure via 18-word block
  // replacement (J(base, nd) ~ 0.6 >= 0.5 threshold; J across TWO
  // replacements ~ 0.32 < 0.5 — the chain geometry)
  private def words(tag: String, n: Int, from: Int = 0): Seq[String] =
    (from until from + n).map(i => s"$tag$i")
  private val textA = words("a", 80).mkString(" ")
  private val textB = words("b", 80).mkString(" ")
  private val textC = words("c", 80).mkString(" ")
  private val textD = words("d", 80).mkString(" ")
  private val textE = words("e", 80).mkString(" ")
  // nd1 ~ A (last 18 words replaced); nd2 ~ nd1 but NOT ~ A (first 18
  // of nd1 replaced)
  private val nd1 = (words("a", 62) ++ words("x", 18)).mkString(" ")
  private val nd2 = (words("y", 18) ++ words("a", 44, from = 18) ++
    words("x", 18)).mkString(" ")

  private val cfg = GraftConfig(minTextLength = 3, maxTextLength = 10000,
    fuzzyThreshold = 0.5)

  private def df(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private val wave1 = df(1L -> textA, 2L -> textB, 3L -> "ab", 4L -> textE)
  private val wave2 = df(11L -> textA, 12L -> nd1, 13L -> textC, 14L -> nd1)
  private val wave3 = df(21L -> nd2, 22L -> nd1, 23L -> textD)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def goldIds(path: String): Set[Long] =
    spark.read.parquet(path).select("doc_id").as[Long].collect().toSet
  private def batchIds(union: DataFrame): Set[Long] =
    IngestCli.batchEquivalent(union, cfg)
      .select("doc_id").as[Long].collect().toSet

  test("three waves: gold == from-scratch batch over the union after every wave") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val st = IngestCli.initState(spark, "graft_ingest_t1", dir, numBuckets = 4)

    val r1 = IngestCli.ingestWave(spark, st, wave1, 1, cfg)
    assert(r1.gated === 3) // "ab" fails the length gate
    assert(goldIds(st.goldPath) === Set(1L, 2L, 4L))
    assert(goldIds(st.goldPath) === batchIds(wave1))

    val r2 = IngestCli.ingestWave(spark, st, wave2, 2, cfg)
    // 11 exact-dups state A; 14 exact-dups in-wave 12; 12 near-dups
    // state A; 13 is fresh
    assert(r2.accepted === 1)
    assert(goldIds(st.goldPath) === Set(1L, 2L, 4L, 13L))
    assert(goldIds(st.goldPath) === batchIds(wave1.union(wave2)))

    val r3 = IngestCli.ingestWave(spark, st, wave3, 3, cfg)
    // THE CHAIN: 21 (nd2) is similar ONLY to nd1 (id 12) — which was
    // itself dropped — and must still drop (seen-not-kept state);
    // 22 exact-dups the DROPPED 12's digest (exact survivors feed the
    // digest state); 23 is fresh
    assert(r3.accepted === 1)
    assert(goldIds(st.goldPath) === Set(1L, 2L, 4L, 13L, 23L))
    assert(goldIds(st.goldPath) ===
      batchIds(wave1.union(wave2).union(wave3)))

    // sanity on the planted geometry: nd2 alone with A is NOT a
    // near-dup pair (otherwise the chain assert is vacuous — 21 would
    // drop via A directly, not via the dropped 12)
    assert(batchIds(df(1L -> textA, 21L -> nd2)) === Set(1L, 21L))
  }

  test("takedown: tombstones gate re-entry, digest state compacts by content, gold rewrites") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest2").toString
    var st = IngestCli.initState(spark, "graft_ingest_t2", dir, numBuckets = 4)
    IngestCli.ingestWave(spark, st, wave1, 1, cfg)
    IngestCli.ingestWave(spark, st, wave2, 2, cfg)

    // retract id 2 (textB — no dups anywhere, so from-scratch over the
    // retained union agrees with the incremental gold exactly)
    st = IngestCli.applyTakedown(spark, st, Seq(2L).toDF("doc_id"))
    assert(goldIds(st.goldPath) === Set(1L, 4L, 13L))
    // signature state lost id 2's rows; digest state lost textB's key
    assert(spark.table(st.sigTable).filter(col("doc_id") === 2L).count() === 0)

    // wave 4: the retracted ID cannot re-enter (tombstone gate), but
    // NEW content identical to the retracted text is accepted again —
    // its digest was compacted away (content-keyed retraction)
    val wave4 = df(2L -> textB, 31L -> textB)
    val r4 = IngestCli.ingestWave(spark, st, wave4, 4, cfg)
    assert(r4.incoming === 2 && r4.live === 1)
    assert(r4.accepted === 1)
    assert(goldIds(st.goldPath) === Set(1L, 4L, 13L, 31L))
    // from-scratch equivalence on the retained union
    val retainedUnion = wave1.union(wave2).union(wave4)
      .filter(col("doc_id") =!= 2L)
    assert(goldIds(st.goldPath) === batchIds(retainedUnion))

    // idempotent re-submission of the same takedown
    st = IngestCli.applyTakedown(spark, st, Seq(2L).toDF("doc_id"))
    assert(goldIds(st.goldPath) === Set(1L, 4L, 13L, 31L))
  }

  test("text takedown after compaction: a retracted kept id re-elects its signature twin") {
    // A, B and C are distinct texts (distinct digests) with ONE 3-word
    // shingle set — x0..x7 repeated 2, 3 and 4 times — so their MinHash
    // signatures are identical and compaction collapses B onto A
    val cycle = words("x", 8).mkString(" ")
    def rep(n: Int): String = Seq.fill(n)(cycle).mkString(" ")
    def run(ns: String, compact: Boolean): (Long, Long) = {
      var st = IngestCli.initState(spark, ns, tmp(ns), numBuckets = 4)
      IngestCli.ingestWave(spark, st, df(1L -> rep(2), 2L -> rep(3)), 1, cfg)
      if (compact) st = IngestCli.compactTextSigs(spark, st)
      st = IngestCli.applyTakedown(spark, st, Seq(1L).toDF("doc_id"))
      val r = IngestCli.ingestWave(spark, st, df(3L -> rep(4)), 2, cfg)
      (r.accepted, r.goldTotal)
    }
    // B was SEEN (dropped as A's near-dup), so C stays out after A's
    // takedown — and compaction must not change that
    val plain = run("graft_ingest_treelect_plain", compact = false)
    assert(plain === ((0L, 0L)))
    assert(run("graft_ingest_treelect", compact = true) === plain)
  }

  test("compaction cadence: recrawls trigger the epilogue; state bounded; probe decisions unchanged") {
    import operators.{Images, Incremental}
    def imgs(ids: Long*) = Images.syntheticCorpus(
      ids.toDF("doc_id"), "doc_id", variantsPerScene = 3, corruptEvery = 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    var st = IngestCli.initMediaState(spark, "graft_compact_t1", dir,
      maxHamming = 8, numBuckets = 4)
    // the steady-state shape: the same items sighted on every crawl —
    // seen-not-kept appends an identical signature row per sighting
    val wave = imgs(0L, 1L, 3L, 4L)
    (1 to 3).foreach(i => IngestCli.ingestMediaWave(spark, st, wave, i))
    val rows0 = spark.table(st.sigTable).count()
    val batch = Images.imageSignatures(imgs(2L, 5L, 6L), "doc_id",
      col("content")).select(col("doc_id"), col("dhash").as("sig"))
    val before = Incremental.hammingDupIdsAgainstTable(batch, "doc_id",
        "sig", spark.table(st.sigTable), maxHamming = 8)
      .as[Long].collect().toSet
    assert(before.nonEmpty, "fixture needs hits or the assert is vacuous")
    st = IngestCli.compactMediaSigs(spark, st)
    val rows1 = spark.table(st.sigTable).count()
    assert(rows1 * 2 < rows0,
      s"3x recrawl must compact away >half the rows ($rows0 -> $rows1)")
    val after = Incremental.hammingDupIdsAgainstTable(batch, "doc_id",
        "sig", spark.table(st.sigTable), maxHamming = 8)
      .as[Long].collect().toSet
    assert(after === before, "compaction must not change probe decisions")
    // the compacted table still appends/probes (meta + signer intact)
    val r = IngestCli.ingestMediaWave(spark, st, imgs(6L, 7L), 4)
    assert(r.accepted >= 1)

    // ratio trigger end-to-end through the CLI loop: identical waves
    // with ratio 0.2 fire the epilogue, and gold matches the
    // untriggered run exactly
    val w = imgs(0L, 1L, 3L, 4L)
    w.write.mode("overwrite").parquet(s"$dir/rw")
    IngestCli.runMedia(spark, s"$dir/trig", Seq(s"$dir/rw", s"$dir/rw", s"$dir/rw"),
      "image", None, None, ns = "graft_compact_trig",
      compaction = IngestCli.CompactionPolicy(ratio = 0.2, minDocs = 1))
    IngestCli.runMedia(spark, s"$dir/notrig", Seq(s"$dir/rw", s"$dir/rw", s"$dir/rw"),
      "image", None, None, ns = "graft_compact_notrig",
      compaction = IngestCli.CompactionPolicy(ratio = 0.0))
    assert(spark.catalog.tableExists("graft_compact_trig_hsigs_v1"),
      "the ratio trigger must have fired at least one compaction")
    assert(!spark.catalog.tableExists("graft_compact_notrig_hsigs_v1"))
    assert(goldIds(IngestCli.currentGoldPath(spark, s"$dir/trig")) ===
      goldIds(IngestCli.currentGoldPath(spark, s"$dir/notrig")))
  }

  test("positional clip-digest compaction: identical clips collapse, partial overlaps never do") {
    import operators.Incremental
    // clips 2 and 4: IDENTICAL (pos, sig) sets (a recrawled clip
    // under a new id); clip 6: shares 1 of 2 positions with them
    // (partial overlap — removing it would flip minFrames counts)
    val rows = Seq(
      (2L, 0, 0x1111L), (2L, 1, 0x2222L),
      (4L, 0, 0x1111L), (4L, 1, 0x2222L),
      (6L, 0, 0x1111L), (6L, 1, 0xFFFF00000000L))
      .toDF("doc_id", "frame_pos", "dhash")
    Seq("t_cfs", "t_cfs2").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Incremental.writeFrameHammingState(rows, "doc_id", "dhash", "t_cfs",
      tmp("graft_cfs"), maxHamming = 8, numBuckets = 2, everyNth = 2)
    try {
      val batch = Seq((1L, 0, 0x1111L), (1L, 1, 0x2222L))
        .toDF("doc_id", "frame_pos", "dhash")
      val before = Incremental.frameHammingDupIdsAgainstTable(batch,
          "doc_id", "dhash", spark.table("t_cfs"), maxHamming = 8,
          minFrames = 2, everyNth = 2).as[Long].collect().toSet
      Incremental.compactFrameHammingDuplicates(spark, "t_cfs",
        "t_cfs2", tmp("graft_cfs2"), numBuckets = 2)
      val keptIds = spark.table("t_cfs2").filter(col("band") =!= 255)
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(keptIds === Set(2L, 6L),
        "identical clip 4 collapses into 2; partial-overlap 6 survives")
      val after = Incremental.frameHammingDupIdsAgainstTable(batch,
          "doc_id", "dhash", spark.table("t_cfs2"), maxHamming = 8,
          minFrames = 2, everyNth = 2).as[Long].collect().toSet
      assert(after === before && before === Set(1L))
    } finally Seq("t_cfs", "t_cfs2")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("media takedown after compaction: a retracted kept id re-elects its signature twin") {
    import operators.{Images, Incremental}
    // 3 distinct scenes; wave 2 re-serves scene 3's EXACT bytes under
    // id 103 (same dHash ⇒ identical banded rows — the signature
    // family the banded compaction collapses)
    val base = Images.syntheticCorpus(Seq(0L, 3L, 6L).toDF("doc_id"),
      "doc_id", variantsPerScene = 3, corruptEvery = 0).cache()
    base.count()
    val dir = java.nio.file.Files.createTempDirectory("graft_mreelect").toString
    val st0 = IngestCli.initMediaState(spark, "graft_mreelect_t", dir,
      maxHamming = 8, numBuckets = 4)
    try {
      IngestCli.ingestMediaWave(spark, st0, base, 1)
      val w2 = base.filter(col("doc_id") === 3)
        .withColumn("doc_id", lit(103L))
      IngestCli.ingestMediaWave(spark, st0, w2, 2)
      assert(goldIds(st0.goldPath) === Set(0L, 3L, 6L),
        "the exact re-encode must dedup at ingest")
      val st1 = IngestCli.compactMediaSigs(spark, st0)
      val remap = spark.table(s"${st1.sigTable}_remap")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(remap === Map(103L -> 3L), s"remap sidecar: $remap")
      // retract the kept id: the signature rows live on under 103
      val st2 = IngestCli.applyMediaTakedown(spark, st1,
        Seq(3L).toDF("doc_id"))
      val kept = spark.table(st2.sigTable)
        .filter(col("band") =!= Incremental.HammingMetaBand)
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(kept === Set(0L, 6L, 103L),
        s"re-elected twin 103 carries the signature rows: $kept")
      // a third copy must still be suppressed (103 is live in the
      // union, so batch-over-union-minus-tombstoned agrees)
      val w3 = base.filter(col("doc_id") === 3)
        .withColumn("doc_id", lit(203L))
      IngestCli.ingestMediaWave(spark, st2, w3, 3)
      assert(!goldIds(st2.goldPath).contains(203L),
        "the surviving signature family must keep suppressing")
      assert(!goldIds(st2.goldPath).contains(3L))
    } finally {
      base.unpersist(blocking = false)
      spark.sql(s"SHOW TABLES LIKE 'graft_mreelect_t*'").collect()
        .map(_.getString(1))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("video takedown after compaction: a retracted representative re-elects its surviving twin") {
    import operators.{Incremental, Video}
    // 4 distinct scenes; wave 2 re-serves scene 1's EXACT bytes under
    // id 101 (dropped at ingest, signatures appended seen-not-kept) —
    // the identical family clip-digest compaction collapses
    val base = Video.syntheticCorpus(
      spark.range(4).select(col("id").as("doc_id")), "doc_id",
      variantsPerScene = 1, corruptEvery = 1000).cache()
    base.count()
    val dir = java.nio.file.Files.createTempDirectory("graft_vreelect").toString
    val st0 = IngestCli.initVideoState(spark, "graft_vreelect_t", dir,
      maxHamming = 8, minFrames = 2, everyNth = 2, numBuckets = 4)
    try {
      IngestCli.ingestVideoWave(spark, st0, base, 1)
      val w2 = base.filter(col("doc_id") === 1)
        .withColumn("doc_id", lit(101L))
      IngestCli.ingestVideoWave(spark, st0, w2, 2)
      assert(goldIds(st0.goldPath) === Set(0L, 1L, 2L, 3L),
        "the exact re-encode must dedup at ingest")
      // compaction collapses {1, 101} to representative 1 + remap
      val st1 = IngestCli.compactVideoSigs(spark, st0)
      val remap = spark.table(s"${st1.sigTable}_remap")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(remap === Map(101L -> 1L), s"remap sidecar: $remap")
      // retract the REPRESENTATIVE: the family's rows must live on
      // under the surviving twin, not silently vanish
      val st2 = IngestCli.applyVideoTakedown(spark, st1,
        Seq(1L).toDF("doc_id"))
      val kept = spark.table(st2.sigTable)
        .filter(col("band") =!= Incremental.HammingMetaBand)
        .select("doc_id").distinct().as[Long].collect().toSet
      // clip 0 is the planted corrupt payload (0 % corruptEvery == 0):
      // it has no signature rows anywhere (undecodables pass by
      // construction), so the state holds 2, 3, and the re-elected 101
      assert(kept === Set(2L, 3L, 101L),
        s"re-elected twin 101 carries the family rows: $kept")
      // a THIRD copy of the same content must still be suppressed —
      // exactly what batch-over-union-minus-tombstoned computes (101
      // is live in the union and suppresses it there too)
      val w3 = base.filter(col("doc_id") === 1)
        .withColumn("doc_id", lit(201L))
      IngestCli.ingestVideoWave(spark, st2, w3, 3)
      assert(!goldIds(st2.goldPath).contains(201L),
        "the surviving family must keep suppressing new copies")
      assert(!goldIds(st2.goldPath).contains(1L),
        "the retracted representative left gold")
    } finally {
      base.unpersist(blocking = false)
      spark.sql(s"SHOW TABLES LIKE 'graft_vreelect_t*'").collect()
        .map(_.getString(1))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("versioned gold: a reader at ANY takedown instant sees old or new, never nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_vg").toString
    var st = IngestCli.initState(spark, "graft_ingest_tvg", dir, numBuckets = 4)
    IngestCli.ingestWave(spark, st, wave1, 1, cfg)
    IngestCli.ingestWave(spark, st, wave2, 2, cfg)
    val v0 = st.goldPath
    assert(v0.endsWith("gold_v0"))
    assert(IngestCli.currentGoldPath(spark, dir) === v0)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def p(s: String) = new org.apache.hadoop.fs.Path(s)

    st = IngestCli.applyTakedown(spark, st, Seq(2L).toDF("doc_id"))
    // steady state after the swap: pointer → v1, and v0 is STILL on
    // disk — a reader that resolved before the takedown keeps every
    // file of its complete copy (the delete-then-rename window is gone)
    assert(st.goldPath.endsWith("gold_v1"))
    assert(IngestCli.currentGoldPath(spark, dir) === st.goldPath)
    assert(goldIds(st.goldPath) === Set(1L, 4L, 13L))
    assert(fs.exists(p(v0)), "previous version retained for in-flight readers")
    assert(goldIds(v0) === Set(1L, 2L, 4L, 13L), "old copy still complete")

    // crash window A: pointer file mid-swap (deleted, rename pending)
    // — the resolver falls back to the highest COMPLETE version
    fs.delete(p(s"$dir/_GOLD_CURRENT"), false)
    assert(IngestCli.currentGoldPath(spark, dir) === st.goldPath)
    assert(goldIds(IngestCli.currentGoldPath(spark, dir)) === Set(1L, 4L, 13L))

    // crash window B: a takedown died mid-write — gold_v2 exists but
    // has no _SUCCESS; it must NOT surface (partial copy), the last
    // complete version must
    fs.mkdirs(p(s"$dir/gold_v2"))
    assert(IngestCli.currentGoldPath(spark, dir) === st.goldPath)
    fs.delete(p(s"$dir/gold_v2"), true)

    // second takedown: v2 becomes current, v1 retained, v0 (two
    // behind) reclaimed — bounded disk, never an absent dir
    st = IngestCli.applyTakedown(spark, st, Seq(4L).toDF("doc_id"))
    assert(st.goldPath.endsWith("gold_v2"))
    assert(IngestCli.currentGoldPath(spark, dir) === st.goldPath)
    assert(goldIds(st.goldPath) === Set(1L, 13L))
    assert(fs.exists(p(s"$dir/gold_v1")) && !fs.exists(p(v0)))
  }

  test("wave probes only shuffle the batch side (state arrives bucket-aligned)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest3").toString
    val st = IngestCli.initState(spark, "graft_ingest_t3", dir, numBuckets = 4)
    IngestCli.ingestWave(spark, st, wave1, 1, cfg)
    // at fixture scale the planner rightly broadcasts the tiny state
    // (and drops the bucket read); the claim under test is the
    // AT-SCALE shape — force the SMJ path the way a 100 TB state
    // plans, then assert the state side streams bucket-aligned
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = operators.Incremental.exactDedupAgainstTable(
        wave2, col("text"), spark.table(st.digestTable))
      probe.write.mode("overwrite").format("noop").save()
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"state must be bucket-read:\n$plan")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 1, s"only the batch side may shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("edges: takedown before any gold; an all-filtered wave; retract-everything") {
    // regression: (a) GRAFT_TAKEDOWN before the first wave used to
    // read a gold dir that never existed; (b) an all-filtered wave's
    // EMPTY append still creates the gold dir (committer + _SUCCESS),
    // and judging existence by the dir instead of data files crashed
    // schema inference on the next read
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest4").toString
    var st = IngestCli.initState(spark, "graft_ingest_t4", dir, numBuckets = 4)

    // (a) tombstone seeding with no gold: must not throw, id 1 gated out
    st = IngestCli.applyTakedown(spark, st, Seq(1L).toDF("doc_id"))
    // (b) a wave where every doc fails the length gate
    val r0 = IngestCli.ingestWave(spark, st, df(5L -> "x", 6L -> "y"), 1, cfg)
    assert(r0.gated === 0 && r0.accepted === 0 && r0.goldTotal === 0)
    // a real wave afterwards works and the seeded tombstone held
    val r1 = IngestCli.ingestWave(spark, st, wave1, 2, cfg)
    assert(r1.goldTotal === 2) // 1 tombstoned, "ab" gated, 2 and 4 land
    assert(goldIds(st.goldPath) === Set(2L, 4L))
    // (c) retract EVERYTHING: gold empties without crashing
    st = IngestCli.applyTakedown(spark, st, Seq(2L, 4L).toDF("doc_id"))
    val r2 = IngestCli.ingestWave(spark, st, df(31L -> textC), 3, cfg)
    assert(r2.goldTotal === 1 && goldIds(st.goldPath) === Set(31L))
  }

  test("rebuildDigestState: retracted-but-never-gold content becomes re-admittable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest5").toString
    var st = IngestCli.initState(spark, "graft_ingest_t5", dir, numBuckets = 4)
    IngestCli.ingestWave(spark, st, df(1L -> textA, 2L -> textB), 1, cfg)
    // id 12 (nd1): survives the exact stage (unique digest — appended,
    // seen-not-kept), then drops as A's fuzzy near-dup: never in gold
    val r2 = IngestCli.ingestWave(spark, st, df(12L -> nd1), 2, cfg)
    assert(r2.exactSurvivors === 1 && r2.accepted === 0)
    // retract A AND the never-gold 12. Takedown can only compact
    // digest keys recomputed from text it still HOLDS (gold), so
    // nd1's digest survives — the documented residual under test
    st = IngestCli.applyTakedown(spark, st, Seq(1L, 12L).toDF("doc_id"))
    assert(goldIds(st.goldPath) === Set(2L))
    val r3 = IngestCli.ingestWave(spark, st, df(31L -> nd1), 3, cfg)
    assert(r3.accepted === 0,
      "pre-rebuild, the orphaned digest still rejects (residual)")
    // the mechanized rebuild: digests re-derived from retained gold
    st = IngestCli.rebuildDigestState(spark, st)
    assert(st.digestTable.endsWith("_v2"),
      s"blue/green digest version bump expected: ${st.digestTable}")
    val r4 = IngestCli.ingestWave(spark, st, df(32L -> nd1), 4, cfg)
    assert(r4.accepted === 1,
      "post-rebuild, fully-retracted content must re-admit")
    assert(goldIds(st.goldPath) === Set(2L, 32L))
    // and retained content is still rejected (the rebuild kept B)
    val r5 = IngestCli.ingestWave(spark, st, df(33L -> textB), 5, cfg)
    assert(r5.accepted === 0)
  }

  test("decontamination gate: eval-overlapping docs never enter gold OR state; wave == batch under the gate") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest5").toString
    val st = IngestCli.initState(spark, "graft_ingest_t5", dir, numBuckets = 4)
    // eval text covers words a62..a79 — 13-grams unique to textA's
    // TAIL (nd1 replaced exactly those words with x's, so nd1 is
    // clean and the fuzzy interplay below is non-vacuous)
    val evalDf = Seq((100L, words("a", 18, from = 62).mkString(" ")))
      .toDF("doc_id", "text")
    val dig = IngestCli.evalGate(evalDf, col("text"), nWords = 13)
    val r1 = IngestCli.ingestWave(spark, st, wave1, 1, cfg, Some(dig))
    // textA (1) decontaminated, "ab" (3) length-gated, B and E land
    assert(r1.gated === 2 && goldIds(st.goldPath) === Set(2L, 4L))
    // wave ≡ batch under the SAME digests
    assert(goldIds(st.goldPath) ===
      IngestCli.batchEquivalent(wave1, cfg, Some(dig))
        .select("doc_id").as[Long].collect().toSet)
    // the contract: a gated doc was never SEEN, so content similar to
    // it (nd1 ~ textA, J ≈ 0.6 ≥ 0.5) is ADMITTED in a later wave —
    // unlike seen-not-kept dedup drops, which keep suppressing
    val r2 = IngestCli.ingestWave(spark, st, df(12L -> nd1), 2, cfg,
      Some(dig))
    assert(r2.accepted === 1,
      "decontaminated docs must not suppress later near-dups")
    // and the gate keeps holding wave over wave
    val r3 = IngestCli.ingestWave(spark, st, df(21L -> textA), 3, cfg,
      Some(dig))
    assert(r3.gated === 0 && r3.accepted === 0)
  }

  test("drift monitor: per-wave PSI against promoted gold; wave 0 skipped; monitoring never gates") {
    import operators.Stats
    val dir = tmp("graft_ingest_drift")
    // wave 0 promotes an all-es corpus; wave 1 arrives mostly zh —
    // the monitor must flag it loudly while STILL ingesting it
    val w0 = Seq((1L, textA, "es"), (2L, textB, "es"))
      .toDF("doc_id", "text", "lang")
    val w1 = Seq((11L, textC, "zh"), (12L, textD, "zh"), (13L, textE, "es"))
      .toDF("doc_id", "text", "lang")
    w0.write.parquet(s"$dir/w0")
    w1.write.parquet(s"$dir/w1")
    IngestCli.runText(spark, s"$dir/state", Seq(s"$dir/w0", s"$dir/w1"),
      None, cfg, ns = "graft_ingest_drift_t", driftCols = Seq("lang"))
    val drift = spark.read.parquet(s"$dir/state/drift")
    // wave 0 had no gold to drift from — no rows; wave 1 reported
    assert(drift.select("ingest_wave").distinct().as[Int].collect()
      .toSet === Set(1))
    // the logged report IS Stats.driftReport(gold-so-far, wave):
    // wave 0 was fully promoted, so gold-so-far == w0
    val got = drift.drop("ingest_wave").collect()
      .map(_.toSeq).toSet
    val want = Stats.driftReport(w0, w1, Seq("lang" -> col("lang")))
      .collect().map(_.toSeq).toSet
    assert(got === want)
    // an all-bucket register shift reads as a loud alarm (> 0.25)...
    assert(drift.select("feature_psi").as[Double].head() >
      IngestCli.DriftAlarmPsi)
    // ...but monitoring never gates: the drifted wave still landed
    assert(goldIds(IngestCli.currentGoldPath(spark, s"$dir/state")) ===
      Set(1L, 2L, 11L, 12L, 13L))
    // token-stream monitor (GRAFT_DRIFT_TOKENS): same waves, token
    // feature rows logged and equal to the direct tokenDrift report
    IngestCli.runText(spark, s"$dir/state_tok",
      Seq(s"$dir/w0", s"$dir/w1"), None, cfg,
      ns = "graft_ingest_drift_tok", driftTokens = 5)
    val tok = spark.read.parquet(s"$dir/state_tok/drift")
    assert(tok.select("feature").distinct().as[String].collect()
      .toSet === Set("token"))
    assert(tok.filter(col("bucket") === "<other>").count() === 1,
      "the <other> fold rides into the loop's log")
    val gotTok = tok.drop("ingest_wave").collect().map(_.toSeq).toSet
    val wantTok = Stats.tokenDrift(w0, w1, col("text"), k = 5)
      .collect().map(_.toSeq).toSet
    assert(gotTok === wantTok)
  }

  test("drift monitor wired into the MEDIA loop: feature PSI over ride-along columns, token drift skipped without text") {
    import operators.{Images, Stats}
    val dir = tmp("graft_ingest_mdrift")
    def imgs(ids: Long*) = Images.syntheticCorpus(
      ids.toDF("doc_id"), "doc_id", variantsPerScene = 3, corruptEvery = 0)
    // wave 0 promotes a crawl_a-only corpus; wave 1 is all crawl_b —
    // the ride-along column drifts fully, the monitor must alarm
    // while the wave still lands
    imgs(0L, 3L, 6L).withColumn("source", lit("crawl_a"))
      .write.parquet(s"$dir/w0")
    imgs(30L, 33L, 36L).withColumn("source", lit("crawl_b"))
      .write.parquet(s"$dir/w1")
    IngestCli.runMedia(spark, s"$dir/state", Seq(s"$dir/w0", s"$dir/w1"),
      "image", None, None, ns = "graft_mdrift_t",
      driftCols = Seq("source"), driftTokens = 5)
    val drift = spark.read.parquet(s"$dir/state/drift")
    assert(drift.select("ingest_wave").distinct().as[Int].collect()
      .toSet === Set(1), "wave 0 has no gold to drift from")
    assert(drift.select("feature").distinct().as[String].collect()
      .toSet === Set("source"),
      "token drift must SKIP loudly when neither side has a text column")
    assert(drift.select("feature_psi").as[Double].head() >
      IngestCli.DriftAlarmPsi, "full register shift reads as an alarm")
    // the logged report IS driftReport(gold-so-far, wave): media extras
    // ride to gold, so gold's wave-0 partition is the baseline
    val goldPath = IngestCli.currentGoldPath(spark, s"$dir/state")
    val g0 = spark.read.parquet(goldPath).filter(col("ingest_wave") === 0)
    val want = Stats.driftReport(g0, spark.read.parquet(s"$dir/w1"),
      Seq("source" -> col("source"))).collect().map(_.toSeq).toSet
    assert(drift.drop("ingest_wave").collect().map(_.toSeq).toSet === want)
    // ...and monitoring never gates: the drifted wave promoted
    assert(goldIds(goldPath).contains(30L))
  }

  test("drift monitor wired into the VIDEO loop: token drift over ride-along transcripts") {
    import operators.{Stats, Video}
    val dir = tmp("graft_ingest_vdrift")
    def clips(ids: Long*) = Video.syntheticCorpus(
      ids.toDF("doc_id"), "doc_id", variantsPerScene = 3, corruptEvery = 0)
    clips(0L, 3L).withColumn("text", lit("uno dos tres cuatro"))
      .withColumn("source", lit("tv"))
      .write.parquet(s"$dir/w0")
    clips(30L, 33L).withColumn("text", lit("alpha beta gamma delta"))
      .withColumn("source", lit("web"))
      .write.parquet(s"$dir/w1")
    IngestCli.runVideo(spark, s"$dir/state", Seq(s"$dir/w0", s"$dir/w1"),
      None, None, ns = "graft_vdrift_t",
      driftCols = Seq("source"), driftTokens = 4)
    val drift = spark.read.parquet(s"$dir/state/drift")
    assert(drift.select("feature").distinct().as[String].collect()
      .toSet === Set("source", "token"),
      "both monitors run: feature PSI + token drift over the transcript")
    val goldPath = IngestCli.currentGoldPath(spark, s"$dir/state")
    val g0 = spark.read.parquet(goldPath).filter(col("ingest_wave") === 0)
    val wantTok = Stats.tokenDrift(g0, spark.read.parquet(s"$dir/w1"),
      col("text"), k = 4).collect().map(_.toSeq).toSet
    assert(drift.filter(col("feature") === "token").drop("ingest_wave")
      .collect().map(_.toSeq).toSet === wantTok)
    assert(drift.filter(col("feature") === "token")
      .select("feature_psi").as[Double].head() > IngestCli.DriftAlarmPsi,
      "a fully-shifted vocabulary alarms")
  }

  test("IngestCli.runClusters drives the cluster loop: init, append, post-wave split-correct takedown") {
    import operators.Incremental
    val dir = tmp("graft_ingest_clusters")
    // the bridge fixture at word-2-grams: {0,1} ~ 3 ~ {2,4}; takedown
    // of the bridge must split after the waves
    val w0 = Seq((0L, "alpha beta gamma delta extra"),
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four")).toDF("doc_id", "text")
    val w1 = Seq((3L, "alpha beta gamma one two three"),
      (4L, "one two three five")).toDF("doc_id", "text")
    w0.write.parquet(s"$dir/w0")
    w1.write.parquet(s"$dir/w1")
    Seq(3L).toDF("doc_id").write.parquet(s"$dir/takedown")
    IngestCli.runClusters(spark, s"$dir/state", Seq(s"$dir/w0", s"$dir/w1"),
      Some(s"$dir/takedown"), n = 2, threshold = 0.3,
      ns = "graft_ingest_clusters_t")
    def resolved(v: Int) = Incremental.resolveClusters(spark,
      Incremental.ClusterTables(
        s"graft_ingest_clusters_t_post_v$v", s"$dir/state/post_v$v",
        s"graft_ingest_clusters_t_member_v$v", s"$dir/state/member_v$v",
        s"graft_ingest_clusters_t_alias_v$v", s"$dir/state/alias_v$v",
        s"graft_ingest_clusters_t_edges_v$v", s"$dir/state/edges_v$v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolved(0) ===
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L),
      "waves merged through the bridge")
    assert(resolved(1) === Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 4L -> 2L),
      "post-wave takedown of the bridge splits, v1 tables hold it")
  }

  test("runClusters winnow enumerator: waves, split-correct takedown over fp postings") {
    import operators.Incremental
    val dir = tmp("graft_ingest_wclusters")
    // the bridge fixture at winnow scale: 14-word runs guarantee ≥ 2
    // shared fingerprints (two disjoint k+w-1 windows per run)
    val run = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi"
    val other = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen"
    val w0 = Seq((0L, s"$run p zero"), (1L, s"$run p one"),
      (2L, s"$other p two")).toDF("doc_id", "text")
    val w1 = Seq((3L, s"$run $other"), (4L, s"$other p four"))
      .toDF("doc_id", "text")
    w0.write.parquet(s"$dir/w0")
    w1.write.parquet(s"$dir/w1")
    Seq(3L).toDF("doc_id").write.parquet(s"$dir/takedown")
    IngestCli.runClusters(spark, s"$dir/state", Seq(s"$dir/w0", s"$dir/w1"),
      Some(s"$dir/takedown"), ns = "graft_ingest_wclusters_t",
      winnow = true)
    def resolved(v: Int) = Incremental.resolveClusters(spark,
      Incremental.ClusterTables(
        s"graft_ingest_wclusters_t_post_v$v", s"$dir/state/post_v$v",
        s"graft_ingest_wclusters_t_member_v$v", s"$dir/state/member_v$v",
        s"graft_ingest_wclusters_t_alias_v$v", s"$dir/state/alias_v$v",
        s"graft_ingest_wclusters_t_edges_v$v", s"$dir/state/edges_v$v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolved(0) ===
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L),
      "waves merged through the fp bridge")
    assert(resolved(1) === Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 4L -> 2L),
      "takedown of the bridge splits; v1 postings rewrote fp-bucketed")
    // the blue/green posting rewrite kept the fp schema + bucket spec
    val post1 = spark.table("graft_ingest_wclusters_t_post_v1")
    assert(post1.columns.toSet === Set("fp", "doc_id"))
  }

  test("runClusters patched takedown (GRAFT_TAKEDOWN_PATCH): overlay + policy compaction ≡ blue/green rewrite") {
    import operators.Incremental
    val dir = tmp("graft_ingest_clusters_p")
    val w0 = Seq((0L, "alpha beta gamma delta extra"),
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four")).toDF("doc_id", "text")
    val w1 = Seq((3L, "alpha beta gamma one two three"),
      (4L, "one two three five")).toDF("doc_id", "text")
    w0.write.parquet(s"$dir/w0"); w1.write.parquet(s"$dir/w1")
    Seq(3L).toDF("doc_id").write.parquet(s"$dir/takedown")
    def run(sub: String, patch: Boolean): Unit =
      IngestCli.runClusters(spark, s"$dir/$sub", Seq(s"$dir/w0", s"$dir/w1"),
        Some(s"$dir/takedown"), n = 2, threshold = 0.3,
        ns = s"graft_icp_$sub", patch = patch)
    def resolved(sub: String, v: Int) = Incremental.resolveClusters(spark,
      Incremental.ClusterTables(
        s"graft_icp_${sub}_post_v$v", s"$dir/$sub/post_v$v",
        s"graft_icp_${sub}_member_v$v", s"$dir/$sub/member_v$v",
        s"graft_icp_${sub}_alias_v$v", s"$dir/$sub/alias_v$v",
        s"graft_icp_${sub}_edges_v$v", s"$dir/$sub/edges_v$v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    run("a", patch = false)
    run("b", patch = true)
    val want = Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 4L -> 2L)
    assert(resolved("a", 1) === want, "blue/green ground truth")
    assert(resolved("b", 0) === want,
      "patched overlay resolves identically on the UNREWRITTEN v0 tables")
    // 4 patch rows / 5 membership rows > 0.3 default → the policy
    // compaction fired and baked the overlay into v1
    assert(resolved("b", 1) === want, "policy compaction produced v1")
    assert(Incremental.clusterPatchLoad(spark, Incremental.ClusterTables(
      s"graft_icp_b_post_v1", s"$dir/b/post_v1",
      s"graft_icp_b_member_v1", s"$dir/b/member_v1",
      s"graft_icp_b_alias_v1", s"$dir/b/alias_v1",
      s"graft_icp_b_edges_v1", s"$dir/b/edges_v1")) === 0.0)
  }

  test("gold retention window (spark.graft.gold.retain): pinned readers survive N-1 takedown cycles") {
    import operators.Images
    def imgs(ids: Long*) = Images.syntheticCorpus(
      ids.toDF("doc_id"), "doc_id", variantsPerScene = 1, corruptEvery = 0)
    val dir = tmp("graft_gold_retain")
    def exists(v: Int) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/gold_v$v"))
    var st = IngestCli.initMediaState(spark, "graft_goldret_t", dir,
      numBuckets = 4)
    IngestCli.ingestMediaWave(spark, st, imgs(0L, 3L, 6L, 9L, 12L), 0)
    spark.conf.set("spark.graft.gold.retain", "3")
    try {
      st = IngestCli.applyMediaTakedown(spark, st, Seq(0L).toDF("doc_id"))
      st = IngestCli.applyMediaTakedown(spark, st, Seq(3L).toDF("doc_id"))
      assert(exists(0) && exists(1) && exists(2),
        "a window of 3 keeps a reader's pin alive across two cycles")
      st = IngestCli.applyMediaTakedown(spark, st, Seq(6L).toDF("doc_id"))
      assert(!exists(0) && exists(1) && exists(2) && exists(3),
        "the version falling off the window is reclaimed, one per cycle")
    } finally spark.conf.unset("spark.graft.gold.retain")
    // the default window (2) reclaims two-behind each cycle, unchanged
    val dir2 = tmp("graft_gold_retain2")
    def exists2(v: Int) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir2/gold_v$v"))
    var st2 = IngestCli.initMediaState(spark, "graft_goldret2_t", dir2,
      numBuckets = 4)
    IngestCli.ingestMediaWave(spark, st2, imgs(0L, 3L, 6L), 0)
    st2 = IngestCli.applyMediaTakedown(spark, st2, Seq(0L).toDF("doc_id"))
    st2 = IngestCli.applyMediaTakedown(spark, st2, Seq(3L).toDF("doc_id"))
    assert(!exists2(0) && exists2(1) && exists2(2))
  }

  test("runFetch drives the harvest loop end to end: ledger accretes, failures retry, bronze derives") {
    val dir = tmp("graft_fetch_cli")
    // a local mirror of three docs; one URL points at a missing file
    val files = (0 until 3).map { i =>
      val p = java.nio.file.Paths.get(s"$dir/mirror_$i.txt")
      java.nio.file.Files.write(p, s"contenido $i".getBytes("UTF-8"))
      p.toUri.toString
    }
    val missing = s"$dir/mirror_missing.txt"
    (files :+ missing).toDF("url").write.parquet(s"$dir/urls")
    // wave 1: three ok, one terminal failure
    val l1 = IngestCli.runFetch(spark, s"$dir/state", s"$dir/urls")
    assert(l1.filter(col("status") === "ok").count() === 3)
    assert(l1.filter(col("status") === "failed").count() === 1)
    val bronze1 = spark.read.parquet(s"$dir/state/bronze")
    assert(bronze1.count() === 3, "every ok row lands in bronze")
    assert(bronze1.select("content_id").distinct().count() === 3)
    val c0 = bronze1.filter(col("url") === files(0))
      .select("content").head().getAs[Array[Byte]](0)
    assert(new String(c0, "UTF-8") === "contenido 0")
    // the missing file appears: a re-run fetches ONLY it (resume)
    java.nio.file.Files.write(java.nio.file.Paths.get(missing),
      "contenido nuevo".getBytes("UTF-8"))
    val l2 = IngestCli.runFetch(spark, s"$dir/state", s"$dir/urls")
    assert(l2.count() === 5, "one retry row appended, ok rows untouched")
    assert(l2.filter(col("status") === "ok").count() === 4)
    val bronze2 = spark.read.parquet(s"$dir/state/bronze")
    assert(bronze2.count() === 4, "bronze re-derives from the full ledger")
    // and a third run is a no-op wave (nothing pending)
    val l3 = IngestCli.runFetch(spark, s"$dir/state", s"$dir/urls")
    assert(l3.count() === 5, "nothing pending, nothing refetched")
  }

  test("runFetch recrawl mode: conditional refetch, 304 keeps prior bytes, bronze stays byte-complete") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.createContext("/stable",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val inm = ex.getRequestHeaders.getFirst("If-None-Match")
        if (inm != null && inm == "\"v1\"") {
          ex.sendResponseHeaders(304, -1); ex.close()
        } else {
          val b = "cuerpo estable".getBytes("UTF-8")
          ex.getResponseHeaders.add("ETag", "\"v1\"")
          ex.sendResponseHeaders(200, b.length)
          ex.getResponseBody.write(b); ex.close()
        }
      })
    server.start()
    val dir = tmp("graft_fetch_recrawl_cli")
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      Seq(s"$base/stable").toDF("url").write.parquet(s"$dir/urls")
      IngestCli.runFetch(spark, s"$dir/state", s"$dir/urls", http = true)
      val l2 = IngestCli.runFetch(spark, s"$dir/state", s"$dir/urls",
        http = true, recrawl = true)
      assert(l2.count() === 2, "the recrawl appends one conditional row")
      assert(l2.filter(col("not_modified") === true).count() === 1,
        "the origin's 304 must be recorded")
      // bronze still carries the BYTES (resolveLatest re-attaches
      // them from the wave that downloaded them)
      val bronze = spark.read.parquet(s"$dir/state/bronze")
      assert(bronze.count() === 1)
      assert(new String(bronze.select("content").head()
        .getAs[Array[Byte]](0), "UTF-8") === "cuerpo estable")
    } finally server.stop(0)
  }

  test("runFetch extractHtml: silver_text derives main content, chrome-only pages stay bronze-only") {
    val dir = tmp("graft_fetch_html")
    val page = "<html><head><title>title words words words</title></head>" +
      "<body><nav><a href='/'>home link words</a></nav>" +
      "<p>real content paragraph with several plain words</p>" +
      "<footer>footer chrome words here</footer></body></html>"
    val chromeOnly = "<nav><a href='/'>only nav words here</a></nav>"
    val p1 = java.nio.file.Paths.get(s"$dir/page.html")
    val p2 = java.nio.file.Paths.get(s"$dir/chrome.html")
    java.nio.file.Files.write(p1, page.getBytes("UTF-8"))
    java.nio.file.Files.write(p2, chromeOnly.getBytes("UTF-8"))
    Seq(p1.toUri.toString, p2.toUri.toString).toDF("url")
      .write.parquet(s"$dir/urls")
    IngestCli.runFetch(spark, s"$dir/state", s"$dir/urls",
      extractHtml = true)
    val bronze = spark.read.parquet(s"$dir/state/bronze")
    assert(bronze.count() === 2, "bronze keeps every fetched page")
    val silver = spark.read.parquet(s"$dir/state/silver_text")
    val rows = silver.collect()
    assert(rows.length === 1, "the chrome-only page carries no text")
    assert(rows.head.getAs[String]("text") ===
      "real content paragraph with several plain words")
    assert(rows.head.getAs[String]("content_id").nonEmpty)
    // a re-run is idempotent (ledger-served, silver re-derived)
    IngestCli.runFetch(spark, s"$dir/state", s"$dir/urls",
      extractHtml = true)
    assert(spark.read.parquet(s"$dir/state/silver_text").count() === 1)
  }

  test("runWarc: WARC containers to silver text — HTML extracted, plain passthrough") {
    import graft.sources.Warc
    val dir = tmp("graft_warc_cli")
    val html = "<html><head><title>t words words words</title></head>" +
      "<body><nav><a href='/'>home nav words</a></nav>" +
      "<p>archived page body with several plain words</p></body></html>"
    val plain = "plain corpus text & literally <kept> as-is"
    Warc.writeWarcDir(
      Seq(("h0", Seq("HTTP://A.test:80/p?b=2&a=1" -> html))).toDS(),
      s"$dir/warcs", contentType = "text/html; charset=utf-8")
    Warc.writeWarcDir(
      Seq(("p0", Seq("http://a.test/q" -> plain))).toDS(),
      s"$dir/warcs", gzip = true, clean = false)
    IngestCli.runWarc(spark, s"$dir/state", s"$dir/warcs")
    val silver = spark.read.parquet(s"$dir/state/silver_text")
      .collect().map(r => (r.getAs[String]("url"),
        r.getAs[String]("text"))).toMap
    assert(silver.size === 2)
    assert(silver("http://a.test/p?a=1&b=2") ===
      "archived page body with several plain words",
      "HTML payloads go through main-content extraction + canonical url")
    assert(silver("http://a.test/q") === plain,
      "non-HTML payloads pass through byte-exact — no entity/tag pass")
  }

  test("runWarc honors the Content-Type charset parameter (Latin-1 bodies)") {
    import graft.sources.Warc
    val dir = tmp("graft_warc_charset")
    val latin = "canción y niño ¿qué año?" // every char Latin-1-representable
    assert(latin.getBytes("ISO-8859-1").length < latin.getBytes("UTF-8").length,
      "fixture must actually exercise a non-UTF-8 byte stream")
    Warc.writeWarcDir(
      Seq(("l0", Seq("http://a.test/latin" -> latin))).toDS(),
      s"$dir/warcs", contentType = "text/plain; charset=ISO-8859-1",
      bodyCharset = "ISO-8859-1")
    IngestCli.runWarc(spark, s"$dir/state", s"$dir/warcs")
    val got = spark.read.parquet(s"$dir/state/silver_text")
      .select("text").head().getString(0)
    assert(got === latin)
  }

  // ---- the MEDIA wave loop ----

  test("media waves: gold == from-scratch batch over the union after every wave") {
    import operators.Images
    // 20 scenes × 3 variants (near-dup structure crosses the wave
    // boundaries), every 13th payload corrupted (undecodable)
    val corpus = Images.syntheticCorpus(
      spark.range(60).select(col("id").as("doc_id")), "doc_id",
      variantsPerScene = 3, corruptEvery = 13).cache()
    corpus.count()
    val waves = Seq(
      corpus.filter(col("doc_id") < 20),
      corpus.filter(col("doc_id") >= 20 && col("doc_id") < 40),
      corpus.filter(col("doc_id") >= 40))
    val dir = java.nio.file.Files.createTempDirectory("graft_mingest").toString
    val st = IngestCli.initMediaState(spark, "graft_mingest_t1", dir,
      maxHamming = 8, numBuckets = 4)
    var union: DataFrame = null
    waves.zipWithIndex.foreach { case (w, i) =>
      union = if (union == null) w else union.union(w)
      val r = IngestCli.ingestMediaWave(spark, st, w, i + 1)
      val expect = IngestCli.batchMediaEquivalent(union, maxHamming = 8)
        .select("doc_id").as[Long].collect().toSet
      assert(goldIds(st.goldPath) === expect, s"after wave ${i + 1}")
      assert(r.goldTotal === expect.size)
    }
    // the loop genuinely deduped (variants of earlier-wave scenes) and
    // genuinely kept undecodables
    val gold = goldIds(st.goldPath)
    assert(gold.size < 60, "no dedup happened; assertions vacuous")
    assert(gold.exists(_ % 13 == 0), "undecodable payloads must pass")
    corpus.unpersist(blocking = false)
  }

  test("IngestCli.runMedia drives the CLI media loop: blocklist, takedown seeding, state dedup") {
    import operators.Images
    def imgs(ids: Long*) = Images.syntheticCorpus(
      ids.toDF("doc_id"), "doc_id", variantsPerScene = 3, corruptEvery = 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_mcli").toString
    // staged exactly as the CLI consumes them: wave parquets, a
    // blocklist parquet of 64-bit sigs, a takedown parquet of doc_ids
    imgs((0L until 10L).map(_ * 3): _*).write.parquet(s"$dir/w1")
    imgs(13L, 10L).write.parquet(s"$dir/w2")
    Images.imageSignatures(imgs(0L), "doc_id", col("content"))
      .select(col("dhash").as("sig")).write.parquet(s"$dir/block")
    Seq(9L).toDF("doc_id").write.parquet(s"$dir/td")
    IngestCli.runMedia(spark, s"$dir/state", Seq(s"$dir/w1", s"$dir/w2"),
      "image", Some(s"$dir/block"), Some(s"$dir/td"))
    val gold = goldIds(IngestCli.currentGoldPath(spark, s"$dir/state"))
    // 0 blocked (blocklist); 9 tombstoned before any wave (seeding);
    // 13 near-dups base 12 already in state; 10's scene base (9) never
    // entered state, so 10 lands
    assert(gold === Set(3L, 6L, 12L, 15L, 18L, 21L, 24L, 27L, 10L))
    // audio mode exercises the alternate signer end to end
    operators.Audio.syntheticCorpus(
        spark.range(0, 12).toDF("doc_id"), "doc_id",
        variantsPerScene = 3, corruptEvery = 0)
      .write.parquet(s"$dir/aw1")
    IngestCli.runMedia(spark, s"$dir/astate", Seq(s"$dir/aw1"), "audio",
      None, None)
    val agold = goldIds(IngestCli.currentGoldPath(spark, s"$dir/astate"))
    assert(agold === Set(0L, 3L, 6L, 9L), "audio in-wave dedup keeps bases")
    // a custom namespace (the CLI's GRAFT_NS) isolates state tables,
    // so two loops can share one metastore without colliding
    IngestCli.runMedia(spark, s"$dir/nstate", Seq(s"$dir/aw1"), "audio",
      None, None, ns = "graft_ns_alt")
    assert(goldIds(IngestCli.currentGoldPath(spark, s"$dir/nstate")) === Set(0L, 3L, 6L, 9L))
    assert(spark.catalog.tableExists("graft_ns_alt_tombstones"))
    // unknown mode refuses with the supported set named
    val e = intercept[IllegalArgumentException] {
      IngestCli.runMedia(spark, s"$dir/x", Seq(s"$dir/aw1"), "video",
        None, None)
    }
    assert(e.getMessage.contains("image|audio"))
  }

  test("media blocklist gates exactly; takedown forgets a retracted signature") {
    import operators.{Dedup, Images}
    // with variantsPerScene = 3, id = 3·scene is the scene's BASE and
    // 3·scene + 1/2 are its near-dup variants (fixed-patch edits)
    def imgs(ids: Long*) = Images.syntheticCorpus(
      ids.toDF("doc_id"), "doc_id", variantsPerScene = 3, corruptEvery = 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_mingest2").toString
    var st = IngestCli.initMediaState(spark, "graft_mingest_t2", dir,
      maxHamming = 8, numBuckets = 4)
    // blocklist = scene 0's base signature: its near-dups can never land
    val blockIdx = Dedup.hammingIndex(
      Images.imageSignatures(imgs(0L), "doc_id", col("content")),
      "dhash", maxHamming = 8)
    // wave 1: the bases of scenes 0..9 (ids 0, 3, …, 27)
    val r1 = IngestCli.ingestMediaWave(spark, st,
      imgs((0L until 10L).map(_ * 3): _*), 1, blocklist = Some(blockIdx))
    assert(r1.blocked === 1 && !goldIds(st.goldPath).contains(0L))
    assert(r1.accepted === 9)
    // scene 4's VARIANT (id 13) near-dups its live base (id 12):
    // rejected — the recurring-dedup path works against state
    val r2 = IngestCli.ingestMediaWave(spark, st, imgs(13L), 2,
      blocklist = Some(blockIdx))
    assert(r2.accepted === 0)
    // take down scene 3's base (id 9): tombstone gates its re-crawl
    // AND the compacted state forgets its signature — NOTE scene 3
    // had no other sighting, so nothing of it remains in state (the
    // seen-not-kept caveat is exactly why scene 4 would NOT forget)
    st = IngestCli.applyMediaTakedown(spark, st, Seq(9L).toDF("doc_id"))
    assert(!goldIds(st.goldPath).contains(9L))
    val r3 = IngestCli.ingestMediaWave(spark, st, imgs(9L), 3,
      blocklist = Some(blockIdx))
    assert(r3.live === 0, "tombstoned id must never re-enter")
    // a NEW sighting of scene 3 content (variant id 10): admitted —
    // content-level forgetting after compaction
    val r4 = IngestCli.ingestMediaWave(spark, st, imgs(10L), 4,
      blocklist = Some(blockIdx))
    assert(r4.accepted === 1, "retracted signature must stop suppressing")
    // scene 4 by contrast still rejects: the dropped variant's
    // signature (id 13, seen-not-kept) remains in state
    val r5 = IngestCli.ingestMediaWave(spark, st, imgs(14L), 5,
      blocklist = Some(blockIdx))
    assert(r5.accepted === 0, "seen-not-kept state must keep suppressing")
    // take down scene 4's base (12) too, then REBUILD from gold: the
    // chain-dropped sig (13) vanishes with its anchor, so a new
    // sighting of scene 4 content re-admits — while retained scenes
    // (e.g. 15's) still reject their variants
    st = IngestCli.applyMediaTakedown(spark, st, Seq(12L).toDF("doc_id"))
    st = IngestCli.rebuildMediaState(spark, st,
      IngestCli.defaultImageSigner, IngestCli.ImageSignerName)
    val r6 = IngestCli.ingestMediaWave(spark, st, imgs(14L), 6,
      blocklist = Some(blockIdx))
    assert(r6.accepted === 1, "rebuild must forget seen-not-kept sigs")
    val r7 = IngestCli.ingestMediaWave(spark, st, imgs(16L), 7,
      blocklist = Some(blockIdx))
    assert(r7.accepted === 0, "retained content must still suppress")
    // CROSS-SIGNER rebuild refuses LOUDLY: the state was signed
    // image-dhash at init; rebuilding under the audio signer name
    // would write incomparable signatures every later probe silently
    // fails against — the exact mistake the _meta signer tag closes
    val eSigner = intercept[IllegalArgumentException] {
      IngestCli.rebuildMediaState(spark, st,
        IngestCli.defaultImageSigner, IngestCli.AudioSignerName)
    }
    assert(eSigner.getMessage.contains("DIFFERENT signer"))
    // and a wave probed/appended under the wrong name refuses too
    val eWave = intercept[IllegalArgumentException] {
      IngestCli.ingestMediaWave(spark, st, imgs(18L), 8,
        signerName = IngestCli.AudioSignerName)
    }
    assert(eWave.getMessage.contains("DIFFERENT signer"))
  }

  // ---- the VIDEO wave loop (positional state) ----

  test("video waves: gold == from-scratch batch over the union after every wave") {
    import operators.Video
    // 10 scenes × 3 variants (clip near-dups cross wave boundaries:
    // a variant matches its scene at 3 of 4 sampled positions), every
    // 13th payload corrupt (no frame rows → must survive)
    val corpus = Video.syntheticCorpus(
      spark.range(30).select(col("id").as("doc_id")), "doc_id",
      variantsPerScene = 3, corruptEvery = 13).cache()
    corpus.count()
    val waves = Seq(
      corpus.filter(col("doc_id") < 10),
      corpus.filter(col("doc_id") >= 10 && col("doc_id") < 20),
      corpus.filter(col("doc_id") >= 20))
    val dir = java.nio.file.Files.createTempDirectory("graft_vingest").toString
    val st = IngestCli.initVideoState(spark, "graft_vingest_t1", dir,
      maxHamming = 8, minFrames = 2, everyNth = 2, numBuckets = 4)
    var union: DataFrame = null
    waves.zipWithIndex.foreach { case (w, i) =>
      union = if (union == null) w else union.union(w)
      val r = IngestCli.ingestVideoWave(spark, st, w, i + 1)
      val expect = IngestCli.batchVideoEquivalent(union, maxHamming = 8,
          minFrames = 2, everyNth = 2)
        .select("doc_id").as[Long].collect().toSet
      assert(goldIds(st.goldPath) === expect, s"after wave ${i + 1}")
      assert(r.goldTotal === expect.size)
    }
    val gold = goldIds(st.goldPath)
    assert(gold.size < 30, "no dedup happened; assertions vacuous")
    assert(gold.exists(_ % 13 == 0), "undecodable payloads must pass")
    corpus.unpersist(blocking = false)
  }

  test("IngestCli.runVideo drives the CLI video loop: cross-modal blocklist, takedown seeding, state dedup") {
    import operators.Video
    def clips(ids: Long*) = Video.syntheticCorpus(
      ids.toDF("doc_id"), "doc_id", variantsPerScene = 3, corruptEvery = 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_vcli").toString
    clips((0L until 10L).map(_ * 3): _*).write.parquet(s"$dir/w1")
    clips(13L, 10L).write.parquet(s"$dir/w2")
    // CROSS-MODAL blocklist: a flagged IMAGE signature — scene 0's
    // sampled frame 0 — blocks every clip sharing (a near-copy of)
    // that still, base AND variants alike
    Video.frameSignatures(clips(0L), "doc_id", col("content"), everyNth = 2)
      .filter(col("frame_pos") === 0)
      .select(col("dhash").as("sig")).write.parquet(s"$dir/block")
    Seq(9L).toDF("doc_id").write.parquet(s"$dir/td")
    IngestCli.runVideo(spark, s"$dir/state", Seq(s"$dir/w1", s"$dir/w2"),
      Some(s"$dir/block"), Some(s"$dir/td"))
    val gold = goldIds(IngestCli.currentGoldPath(spark, s"$dir/state"))
    // 0 blocked (flagged frame); 9 tombstoned before any wave; 13
    // matches live base 12 on 3 of 4 positions → dropped; 10's scene
    // base (9) never entered state, so 10 lands
    assert(gold === Set(3L, 6L, 12L, 15L, 18L, 21L, 24L, 27L, 10L))
  }

  test("video blocklist blocks variants through shared frames; takedown forgets clip frames") {
    import operators.{Dedup, Video}
    def clips(ids: Long*) = Video.syntheticCorpus(
      ids.toDF("doc_id"), "doc_id", variantsPerScene = 3, corruptEvery = 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_vingest2").toString
    var st = IngestCli.initVideoState(spark, "graft_vingest_t2", dir,
      maxHamming = 8, minFrames = 2, everyNth = 2, numBuckets = 4)
    val blockIdx = Dedup.hammingIndex(
      Video.frameSignatures(clips(0L), "doc_id", col("content"), everyNth = 2)
        .filter(col("frame_pos") === 0),
      "dhash", maxHamming = 8)
    // wave 1: scene 0's VARIANT (id 1, frame 0 untouched by the edit)
    // is blocked through the shared still — cross-modal enforcement
    // reaches near-copies; bases of scenes 1..4 land
    val r1 = IngestCli.ingestVideoWave(spark, st,
      clips(1L, 3L, 6L, 9L, 12L), 1, blocklist = Some(blockIdx))
    assert(r1.blocked === 1 && !goldIds(st.goldPath).contains(1L))
    assert(r1.accepted === 4)
    // scene 4's variant (id 13) matches live base 12 on 3 positions
    val r2 = IngestCli.ingestVideoWave(spark, st, clips(13L), 2,
      blocklist = Some(blockIdx))
    assert(r2.accepted === 0)
    // take down scene 3's base (id 9): tombstone gates re-crawl AND
    // compaction forgets its frames (no other sighting of scene 3)
    st = IngestCli.applyVideoTakedown(spark, st, Seq(9L).toDF("doc_id"))
    assert(!goldIds(st.goldPath).contains(9L))
    val r3 = IngestCli.ingestVideoWave(spark, st, clips(9L), 3,
      blocklist = Some(blockIdx))
    assert(r3.live === 0, "tombstoned id must never re-enter")
    // a NEW sighting of scene 3 content (variant id 10): admitted —
    // content-level forgetting after positional-state compaction
    val r4 = IngestCli.ingestVideoWave(spark, st, clips(10L), 4,
      blocklist = Some(blockIdx))
    assert(r4.accepted === 1, "retracted clip frames must stop suppressing")
    // scene 4 still rejects: dropped variant 13's frames remain in
    // state (seen-not-kept), and variants share 3 sampled positions
    val r5 = IngestCli.ingestVideoWave(spark, st, clips(14L), 5,
      blocklist = Some(blockIdx))
    assert(r5.accepted === 0, "seen-not-kept state must keep suppressing")
    // take down scene 4's base (12) too, then REBUILD from gold:
    // chain-dropped clip 13's frames vanish with their anchor, so a
    // new sighting of scene 4 re-admits; retained scene 2 (base 6 in
    // gold) still suppresses its variant
    st = IngestCli.applyVideoTakedown(spark, st, Seq(12L).toDF("doc_id"))
    st = IngestCli.rebuildVideoState(spark, st)
    val r6 = IngestCli.ingestVideoWave(spark, st, clips(14L), 6,
      blocklist = Some(blockIdx))
    assert(r6.accepted === 1, "rebuild must forget seen-not-kept frames")
    val r7 = IngestCli.ingestVideoWave(spark, st, clips(7L), 7,
      blocklist = Some(blockIdx))
    assert(r7.accepted === 0, "retained clips must still suppress")
  }
}
