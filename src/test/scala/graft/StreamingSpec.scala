package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps
import graft.streaming.StreamOps.{DedupDecision, Keyed, KeyedVec, VecDecision}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** events with micro-precision ts staged to a temp dir so the same
    * parquet drives both batch and readStream paths. */
  private lazy val stagedEvents: String = {
    val dir = Files.createTempDirectory("graft-stream").toString + "/events"
    Tables.events(spark, "/root/testdata/sf0.001").write.parquet(dir)
    dir
  }

  private def streamEvents = {
    val schema = spark.read.parquet(stagedEvents).schema
    spark.readStream.schema(schema).parquet(stagedEvents)
  }

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    spark.table(name)
  }

  test("windowed aggregate over a real stream matches the batch plan (A9 streaming)") {
    val streamed = runToMemory(
      StreamOps.windowedAgg(streamEvents, "1 day", watermark = "1 minute"),
      "win_counts", mode = "append")
    val batch = StreamOps.windowedAgg(Tables.events(spark, "/root/testdata/sf0.001"), "1 day")
    // watermark in append mode emits only finalized windows; every
    // emitted row must match the batch computation exactly
    val s = streamed.collect().map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3))).toSet
    val b = batch.collect().map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3))).toSet
    assert(s.nonEmpty, "stream produced windows")
    assert(s.subsetOf(b), "streaming windows agree with batch")
  }

  test("dropDuplicatesWithinWatermark dedups duplicate event ids in-stream (D6 exact)") {
    // duplicate the staged events to force real duplicates
    val dir = Files.createTempDirectory("graft-stream-dup").toString + "/events"
    val e = Tables.events(spark, "/root/testdata/sf0.001")
    e.union(e).write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val deduped = runToMemory(
      StreamOps.incrementalDedup(stream, Seq("event_id"), watermark = "10 minutes"),
      "dedup_out")
    assert(deduped.count() === e.count(), "each event_id exactly once")
  }

  test("session windows group per-user bursts (harvest batches)") {
    val sessions = runToMemory(
      StreamOps.sessionAgg(streamEvents, "30 minutes", watermark = "1 minute"),
      "session_out")
    assert(sessions.count() > 0)
    val perUser = sessions.groupBy("user_id").count()
    assert(perUser.count() > 1, "multiple users sessionized")
  }

  private def tsAt(hhmm: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00")

  test("stateful fuzzy dedup flags near-duplicate token streams (D6 fuzzy)") {
    val dir = Files.createTempDirectory("graft-stream-fuzzy").toString + "/keyed"
    Seq(
      Keyed("u1", 1L, Seq("niltze", "hola", "amigo"), tsAt("10:00")),
      Keyed("u1", 2L, Seq("niltze", "hola", "amigo"), tsAt("10:01")), // exact dup
      Keyed("u1", 3L, Seq("totally", "different", "tokens"), tsAt("10:02")),
      Keyed("u2", 4L, Seq("niltze", "hola", "amigo"), tsAt("10:03")) // same text, other key
    ).toDS().write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir).as[Keyed]
    val q = StreamOps.fuzzyDedupStream(stream, numPerm = 64, threshold = 0.9)
      .writeStream.outputMode("append").format("memory").queryName("fuzzy_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.table("fuzzy_out").as[DedupDecision].collect()
      .map(d => d.id -> d.isDuplicate).toMap
    assert(out(2L), "exact duplicate within key flagged")
    assert(!out(3L), "distinct record passes")
    assert(!out(4L), "same text under another key is not a duplicate")
    assert(!out(1L), "first occurrence passes")
  }

  test("fuzzy dedup state is evicted by event-time TTL; in-window recall maintained") {
    val dir = Files.createTempDirectory("graft-stream-evict").toString + "/keyed"
    val a = Seq("niltze", "hola", "amigo")
    val b = Seq("other", "token", "stream")
    def append(rows: Seq[Keyed]): Unit = {
      rows.toDS().coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(100) // distinct file mtimes → deterministic batch order
    }
    append(Seq(Keyed("u1", 1L, a, tsAt("10:00")), Keyed("u1", 2L, a, tsAt("10:01"))))
    append(Seq(Keyed("u2", 10L, b, tsAt("12:00"))))
    // batch 3: u2 duplicate inside its window; u1 (idle, last event 10:01,
    // ttl 30 min → timeout 10:31) is behind the new watermark 11:50 → evicted
    append(Seq(Keyed("u2", 11L, b, tsAt("12:05"))))
    // batch 4: u1 text reappears after eviction → treated as fresh;
    // u2 is still inside its ttl window → still flagged
    append(Seq(Keyed("u1", 3L, a, tsAt("12:30")), Keyed("u2", 12L, b, tsAt("12:31"))))

    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[Keyed]
    val q = StreamOps.fuzzyDedupStream(stream, numPerm = 64, threshold = 0.9,
        watermarkDelay = "10 minutes", ttl = "30 minutes")
      .writeStream.outputMode("append").format("memory").queryName("evict_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.table("evict_out").as[DedupDecision].collect()
      .map(d => d.id -> d.isDuplicate).toMap
    assert(out(2L), "in-window duplicate flagged before eviction")
    assert(out(11L), "in-window duplicate on the live key still flagged")
    assert(!out(3L), "key evicted after watermark passed its ttl — seen as fresh")
    assert(out(12L), "non-evicted key keeps its signatures")
  }

  test("maxSignatures ring cap bounds per-key state, evicting oldest first") {
    val rows = Seq(
      Keyed("k", 1L, Seq("alpha", "beta", "gamma")),
      Keyed("k", 2L, Seq("delta", "epsilon", "zeta")),
      Keyed("k", 3L, Seq("eta", "theta", "iota")),   // pushes #1 out of the cap-2 ring
      Keyed("k", 4L, Seq("alpha", "beta", "gamma")), // dup of evicted #1 → passes
      Keyed("k", 5L, Seq("eta", "theta", "iota"))    // dup of retained #3 → flagged
    ).toDS()
    val out = StreamOps.fuzzyDedupStream(rows, numPerm = 64, threshold = 0.9,
        maxSignatures = 2)
      .collect().map(d => d.id -> d.isDuplicate).toMap
    assert(!out(4L), "signature beyond the ring cap was evicted")
    assert(out(5L), "recent signature retained within the cap")
  }

  test("streaming semantic dedup: batch parity with semanticDedup; stream agrees") {
    import graft.operators.Dedup
    // same clustered fixture shape as SimilaritySpec's semanticDedup
    // test: four separated directions, five jittered copies each
    val rnd = new scala.util.Random(3)
    def jitter(v: Array[Double]) = v.map(x => x + rnd.nextGaussian() * 0.002)
    val dirs = Seq(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(0.0, 0.0, 1.0), Array(-1.0, 0.0, 0.0))
    val clean = dirs.zipWithIndex.flatMap { case (d, i) =>
      (0 until 5).map(j => ((i * 10 + j).toLong, Some(jitter(d).toSeq)))
    }
    val dirty = Seq((98L, Some(Seq(Double.NaN, 1.0, 0.0))),
      (99L, Option.empty[Seq[Double]]))
    val df = (clean ++ dirty).toDF("vec_id", "embedding")

    // batch invocation of the SAME state function: null ts ⇒ id-order
    // processing ⇒ keep-lowest-id, i.e. semanticDedup's contract
    val decisions = StreamOps.semanticDedupStream(
        StreamOps.keyByCell(df, "vec_id", "embedding", nCells = 4), eps = 0.05)
      .collect().map(d => d.id -> d.isDuplicate).toMap
    val keptStream = decisions.collect { case (id, false) => id }.toSet
    val keptBatch = Dedup.semanticDedup(df, "vec_id", "embedding", eps = 0.05, nCells = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptStream === keptBatch, "state-function keep set must match the batch operator")
    assert(!decisions(98L) && !decisions(99L), "unprovable rows pass un-flagged")

    // real stream over the same rows (single batch, AvailableNow)
    val dir = Files.createTempDirectory("graft-stream-sem").toString + "/vecs"
    StreamOps.keyByCell(df, "vec_id", "embedding", nCells = 4).write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir).as[KeyedVec]
    val q = StreamOps.semanticDedupStream(stream, eps = 0.05)
      .writeStream.outputMode("append").format("memory").queryName("sem_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.table("sem_out").as[VecDecision].collect()
      .map(d => d.id -> d.isDuplicate).toMap
    assert(out === decisions, "stream decisions must match the batch invocation")
  }

  test("semantic dedup stream drops full chains like the batch operator (a~b~c, a≁c)") {
    import graft.operators.Similarity
    // cos(a,b) = cos(b,c) = 0.96 >= 0.95, cos(a,c) = 0.8432 < 0.95:
    // the batch contract drops a row similar to ANY lower-id mate,
    // dropped or not — so b AND c go. A stream comparing only against
    // KEPT vectors would keep c; state must remember flagged arrivals.
    val th = math.acos(0.96)
    def at(k: Int) = Seq(math.cos(k * th), math.sin(k * th))
    val rows = Seq(KeyedVec(5, 1L, at(0)), KeyedVec(5, 2L, at(1)), KeyedVec(5, 3L, at(2)))
    val out = StreamOps.semanticDedupStream(rows.toDS(), eps = 0.05)
      .collect().map(d => d.id -> d.isDuplicate).toMap
    assert(!out(1L) && out(2L) && out(3L), s"chain must drop b and c: $out")
    // the global batch contract on the same vectors agrees: a
    // left_anti of every id_b of the exact similarPairs cross join
    val vecs = Seq((1L, at(0)), (2L, at(1)), (3L, at(2))).toDF("vec_id", "embedding")
    val dup = Similarity.similarPairs(vecs, "vec_id", "embedding", t = 0.95)
      .select(col("id_b").as("vec_id"))
    val batchKept = vecs.join(dup, Seq("vec_id"), "left_anti")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(batchKept === Set(1L))
  }

  test("semantic dedup stream treats dimension-mismatched vectors as incomparable") {
    val rows = Seq(
      KeyedVec(7, 1L, Seq(1.0, 0.0)),
      KeyedVec(7, 2L, Seq(1.0, 0.0, 0.0))) // 3-dim vs 2-dim state entry
    val out = StreamOps.semanticDedupStream(rows.toDS(), eps = 0.05)
      .collect().map(d => d.id -> d.isDuplicate).toMap
    assert(!out(2L), "length mismatch must never prove a duplicate (batch kernel yields null)")
  }

  test("semantic dedup stream: maxVectors ring cap bounds per-cell state") {
    val a = Seq(1.0, 0.0, 0.0)
    val b = Seq(0.0, 1.0, 0.0)
    val c = Seq(0.0, 0.0, 1.0)
    // one cell throughout (cell is part of KeyedVec — drive the state
    // function directly, the cap logic is per group)
    val rows = Seq(
      KeyedVec(7, 1L, a), KeyedVec(7, 2L, b),
      KeyedVec(7, 3L, c),          // pushes a out of the cap-2 ring
      KeyedVec(7, 4L, a),          // dup of evicted 1 → passes
      KeyedVec(7, 5L, c)           // dup of retained 3 → flagged
    ).toDS()
    val out = StreamOps.semanticDedupStream(rows, eps = 0.05, maxVectors = 2)
      .collect().map(d => d.id -> d.isDuplicate).toMap
    assert(!out(4L), "vector beyond the ring cap was evicted")
    assert(out(5L), "recent vector retained within the cap")
  }

  test("stream → warehouse metrics sink lands quality_metrics rows (foreachBatch)") {
    val whDir = Files.createTempDirectory("graft-stream-wh").toString
    val agg = StreamOps.windowedAgg(streamEvents, "1 day", watermark = "1 minute")
    val q = StreamOps.metricsSink(agg, whDir, "daily_event_count")
    q.awaitTermination(120000)
    val metrics = spark.read.parquet(s"$whDir/quality_metrics")
    assert(metrics.count() > 0)
    assert(metrics.select("metric_name").distinct().head().getString(0) === "daily_event_count")
    // rows are consumable by the warehouse views
    graft.warehouse.Warehouse.register(spark, whDir)
    assert(spark.sql("SELECT count(*) FROM quality_metrics").head().getLong(0) === metrics.count())
  }

  test("stream-stream interval join pairs views with clicks inside the bound") {
    val dir = Files.createTempDirectory("graft-stream-join").toString
    val views = Seq(
      (1L, tsAt("10:00"), 7L), // clicked at 10:05 ✓ and 10:09 ✓
      (2L, tsAt("11:00"), 7L), // next click 11:20 ✗ (outside 10 min)
      (3L, tsAt("10:00"), 8L)  // other user's clicks must not match
    ).toDF("event_id", "ts", "user_id")
    val clicks = Seq(
      (101L, tsAt("10:05"), 7L),
      (102L, tsAt("10:09"), 7L),
      (103L, tsAt("11:20"), 7L),
      (104L, tsAt("10:04"), 9L)
    ).toDF("event_id", "ts", "user_id")
    views.write.parquet(s"$dir/views")
    clicks.write.parquet(s"$dir/clicks")
    def stream(p: String) =
      spark.readStream.schema(spark.read.parquet(p).schema).parquet(p)
    val joined = StreamOps.intervalJoin(
      stream(s"$dir/views"), stream(s"$dir/clicks"),
      "user_id", "ts", "10 minutes", watermark = "5 minutes")
    val out = runToMemory(joined.select(col("event_id"), col("event_id_r")), "sjoin_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 101L), (1L, 102L)), s"got $out")

    // batch mode of the same operator agrees
    val batchOut = StreamOps.intervalJoin(views, clicks, "user_id", "ts", "10 minutes")
      .select(col("event_id"), col("event_id_r"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchOut === out)
  }

  test("streaming decontamination gate drops eval-overlapping docs; agrees with the batch profile") {
    val evalQ = "what is the airspeed velocity of an unladen swallow"
    val evalSet = Seq(evalQ, "name the capital of the ancient aztec empire").toDF("etext")
    val digests = StreamOps.evalGramDigests(evalSet, col("etext"), nWords = 5)
    assert(digests.length === 9, "5 + 4 distinct 5-grams from the two eval items")
    assert(digests.sameElements(digests.sorted), "digest model must be sorted")
    val docsLocal = Seq(
      (1L, "padding words then " + evalQ + " pasted in the middle"),
      (2L, "a perfectly clean training document with plenty of ordinary words"),
      (3L, "short doc"),
      (4L, evalQ)
    ).toDF("doc_id", "text")
    // batch path
    val batchKept = StreamOps.decontaminateStream(docsLocal, col("text"), digests, nWords = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(batchKept === Set(2L, 3L))
    // agreement with the batch contamination profile
    val profKept = graft.operators.Dedup.contaminationProfile(docsLocal, "doc_id",
        col("text"), evalSet, col("etext"), nWords = 5)
      .filter(!col("contaminated")).select("doc_id").as[Long].collect().toSet
    assert(profKept === batchKept)
    // real stream: same gate, append mode, no state store
    val dir = Files.createTempDirectory("graft-decon").toString + "/docs"
    docsLocal.write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val streamed = runToMemory(
      StreamOps.decontaminateStream(
        spark.readStream.schema(schema).parquet(dir), col("text"), digests, nWords = 5),
      "decon_kept")
    assert(streamed.select("doc_id").as[Long].collect().toSet === batchKept)
    // Bloom-gated variant (the large-eval-set form): the error is
    // one-sided — a contaminated doc can NEVER pass the gate (clean
    // docs may over-drop at the fp rate), and the stream agrees with
    // the batch evaluation of the same gate exactly
    val bloom = graft.operators.Dedup.evalGramBloom(evalSet, col("etext"), nWords = 5)
    val bloomBatch = StreamOps.decontaminateStreamBloom(
        docsLocal, col("text"), bloom, nWords = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(bloomBatch.subsetOf(batchKept), "bloom gate must never leak contamination")
    assert(bloomBatch.contains(3L), "a zero-gram doc can never be bloom-dropped")
    val bloomStreamed = runToMemory(
      StreamOps.decontaminateStreamBloom(
        spark.readStream.schema(schema).parquet(dir), col("text"), bloom, nWords = 5),
      "decon_kept_bloom")
    assert(bloomStreamed.select("doc_id").as[Long].collect().toSet === bloomBatch)
  }

  test("streaming quality gate scores with the offline NB dictionary; agrees with batch") {
    import graft.operators.Classifier
    // offline training corpus: labels from a trusted-source heuristic
    val train = Seq(
      (1L, "clean prose with varied words and structure", true),
      (2L, "helpful reference text with clean words", true),
      (3L, "spam spam buy now spam", false),
      (4L, "buy buy buy spam now", false)).toDF("doc_id", "text", "pos")
    val (keys, weights) =
      Classifier.collectDict(Classifier.nbTrain(train, col("text"), col("pos")))
    val prior = Classifier.collectPrior(train, col("pos"))
    // incoming stream to gate (includes a null-text row: scores the
    // prior, and prior = ln(2/2) = 0 < minScore → dropped)
    val incoming = Seq(
      (10L, "clean words and helpful structure"),
      (11L, "spam spam buy spam"),
      (12L, "entirely novel vocabulary here"),
      (13L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val batchKept = StreamOps.qualityGateStream(incoming, col("text"),
        keys, weights, prior, minScore = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(batchKept === Set(10L), "only the clean-token doc clears 0.5")
    // agreement with the batch map-side scorer's decisions
    val scored = Classifier.nbScoreMapSide(incoming, "doc_id", col("text"),
        keys, weights, prior)
      .filter(col("nb_llr") >= 0.5).select("doc_id").as[Long].collect().toSet
    assert(scored === batchKept)
    // real stream: same gate, append mode, no state store
    val dir = Files.createTempDirectory("graft-qgate").toString + "/docs"
    incoming.write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val streamed = runToMemory(
      StreamOps.qualityGateStream(
        spark.readStream.schema(schema).parquet(dir), col("text"),
        keys, weights, prior, minScore = 0.5),
      "quality_gate_kept")
    assert(streamed.select("doc_id").as[Long].collect().toSet === batchKept)
  }

  test("stratified streaming quality gate: per-language models, no-model strata fail") {
    import graft.operators.Classifier
    val train = Seq(
      (1L, "en", "clean helpful words", true), (2L, "en", "spam spam buy", false),
      (3L, "de", "gute saubere worte", true), (4L, "de", "kauf kauf werbung", false),
      // one-class stratum: every fr doc positive → NULL prior
      (5L, "fr", "bonjour propre", true))
      .toDF("doc_id", "lang", "text", "pos")
    val dict = Classifier.nbTrainStratified(train, col("lang"), col("text"), col("pos"))
    val (keys, weights) = Classifier.collectDictStratified(dict)
    val priors = Classifier.stratPriors(train, col("lang"), col("pos"))
    val incoming = Seq(
      (10L, "en", "clean helpful words"),   // en model: positive
      (11L, "en", "spam buy spam"),         // en model: negative
      (12L, "de", "gute saubere worte"),    // de model: positive
      (13L, "de", "spam spam buy"),         // en spam vocab is NOT in the de model → prior only (ln 1 = 0) < 0.5
      (14L, "fr", "bonjour propre"),        // one-class stratum → NULL → dropped
      (15L, "zh", "unseen stratum"))        // no model at all → dropped
      .toDF("doc_id", "lang", "text")
    val kept = StreamOps.qualityGateStreamStratified(incoming, col("lang"),
        col("text"), keys, weights, priors, minScore = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(10L, 12L),
      "only docs scored positive by their OWN language's model pass")
    // real stream agrees
    val dir = Files.createTempDirectory("graft-qgate-st").toString + "/docs"
    incoming.write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val streamed = runToMemory(
      StreamOps.qualityGateStreamStratified(
        spark.readStream.schema(schema).parquet(dir), col("lang"),
        col("text"), keys, weights, priors, minScore = 0.5),
      "quality_gate_strat_kept")
    assert(streamed.select("doc_id").as[Long].collect().toSet === kept)
  }

  test("streaming semantic decontamination gate agrees with the batch operator") {
    val rnd = new scala.util.Random(11)
    def jitter(v: Array[Double]) = v.map(x => x + rnd.nextGaussian() * 0.002)
    val dirs = Seq(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(0.0, 0.0, 1.0), Array(-1.0, 0.0, 0.0))
    val corpus = (dirs.zipWithIndex.flatMap { case (d, i) =>
      (0 until 5).map(j => ((i * 10 + j).toLong, Some(jitter(d).toSeq)))
    } ++ Seq((98L, Some(Seq(Double.NaN, 1.0, 0.0))), (99L, None)))
      .toDF("vec_id", "embedding")
    val evalSet = Seq((0L, jitter(dirs(0)).toSeq), (1L, jitter(dirs(2)).toSeq))
      .toDF("eval_id", "embedding")

    val evalCells = graft.operators.Dedup
      .evalCellVectors(evalSet, "embedding", nCells = 4).cache()
    // batch invocation of the STREAM gate ≡ the batch operator
    val batchOp = graft.operators.Dedup.semanticDecontaminate(
        corpus, "vec_id", "embedding", evalSet, "embedding",
        eps = 0.05, nCells = 4)
      .select("vec_id").as[Long].collect().toSet
    val gateBatch = StreamOps.semanticDecontaminateStream(
        corpus, "embedding", evalCells, eps = 0.05, nCells = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(gateBatch === batchOp)
    // unprovable rows pass the gate (NaN cosine must not drop them)
    assert(gateBatch.contains(98L) && gateBatch.contains(99L))
    // real stream, append mode, no state store
    val dir = Files.createTempDirectory("graft-semdecon").toString + "/vecs"
    corpus.write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val streamed = runToMemory(
      StreamOps.semanticDecontaminateStream(
        spark.readStream.schema(schema).parquet(dir), "embedding",
        evalCells, eps = 0.05, nCells = 4),
      "semdecon_kept")
    assert(streamed.select("vec_id").as[Long].collect().toSet === gateBatch)
    evalCells.unpersist()
  }

  test("CDC incremental scan returns only rows past the sync point (S8)") {
    val e = Tables.events(spark, "/root/testdata/sf0.001")
    val mid = e.selectExpr("percentile(cast(ts as double), 0.5)").head().getDouble(0)
    val sync = new java.sql.Timestamp((mid * 1000).toLong)
    val inc = StreamOps.incrementalSince(e, "ts", sync)
    assert(inc.count() < e.count() && inc.count() > 0)
    assert(inc.filter(col("ts") <= lit(sync)).count() === 0)
  }

  test("noveltyGateStream: stream decisions == batch novelty threshold; short docs pass") {
    import graft.operators.Incremental
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") < 30)
    Incremental.writeGramTable(corpus, col("text"), 4,
      "t_grams_stream", java.nio.file.Files.createTempDirectory("graft_ng").toString,
      numBuckets = 4)
    try {
      val bloom = Incremental.gramBloom(spark.table("t_grams_stream"))
      val batch = docs.filter(col("doc_id") >= 30)
        .unionByName(spark.range(1).select(lit(9999L).as("doc_id"),
          lit("a b").as("text"), lit("xx").as("lang"), lit("s").as("source"),
          lit(3L).as("n_chars")))
        .unionByName(spark.range(1).select(lit(9998L).as("doc_id"),
          lit(null).cast("string").as("text"), lit("xx").as("lang"),
          lit("s").as("source"), lit(0L).as("n_chars")))
      // batch reference decisions from the exact state operator
      val novelty = Incremental.noveltyAgainstTable(batch, "doc_id",
          col("text"), 4, spark.table("t_grams_stream"))
      val wantKept = novelty
        .filter(col("n_grams") === 0 || col("novelty") >= 0.5)
        .select("doc_id").as[Long].collect().toSet
      // gate in batch mode (fpp=1e-6 on a tiny state: Bloom exact here)
      val gateBatch = StreamOps.noveltyGateStream(batch, col("text"), bloom,
          n = 4, minNovelty = 0.5)
        .select("doc_id").as[Long].collect().toSet
      assert(gateBatch === wantKept)
      assert(gateBatch.contains(9999L), "a below-n-words doc must pass")
      assert(gateBatch.contains(9998L), "a null-text doc must pass, not drop")
      // the same rows through a REAL stream agree with batch
      val dir = java.nio.file.Files.createTempDirectory("graft_ng_in").toString
      batch.coalesce(1).write.mode("overwrite").parquet(dir)
      val streamed = runToMemory(
        StreamOps.noveltyGateStream(
          spark.readStream.schema(batch.schema).parquet(dir),
          col("text"), bloom, n = 4, minNovelty = 0.5),
        "novelty_kept")
      assert(streamed.select("doc_id").as[Long].collect().toSet === gateBatch)
    } finally spark.sql("DROP TABLE IF EXISTS t_grams_stream")
  }

  test("overlapGateStream: stream == batch; flags a superset of the pair verdicts; null passes") {
    import graft.operators.Incremental
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") < 30)
    Incremental.writeFingerprintTable(corpus, "doc_id", col("text"),
      "t_fps_stream", java.nio.file.Files.createTempDirectory("graft_fpb").toString,
      numBuckets = 4)
    try {
      val bloom = Incremental.fingerprintBloom(spark.table("t_fps_stream"))
      val batch = docs.filter(col("doc_id") >= 30)
        .unionByName(spark.range(1).select(lit(9998L).as("doc_id"),
          lit(null).cast("string").as("text"), lit("xx").as("lang"),
          lit("s").as("source"), lit(0L).as("n_chars")))
      val gateBatch = StreamOps.overlapGateStream(batch, col("text"), bloom,
          maxShared = 2)
        .select("doc_id").as[Long].collect().toSet
      assert(gateBatch.contains(9998L), "null text must pass")
      // every doc the PAIR probe convicts (shared_fps >= 2 with some
      // single corpus doc) is also gate-flagged — superset property
      val pairConvicted = Incremental.overlapAgainstTable(batch, "doc_id",
          col("text"), spark.table("t_fps_stream"), minShared = 2)
        .select("doc_id").as[Long].collect().toSet
      assert((gateBatch intersect pairConvicted).isEmpty,
        "a pair-convicted doc must never pass the gate")
      // the same rows through a REAL stream agree with batch
      val dir = java.nio.file.Files.createTempDirectory("graft_fpb_in").toString
      batch.coalesce(1).write.mode("overwrite").parquet(dir)
      val streamed = runToMemory(
        StreamOps.overlapGateStream(
          spark.readStream.schema(batch.schema).parquet(dir),
          col("text"), bloom, maxShared = 2),
        "overlap_kept")
      assert(streamed.select("doc_id").as[Long].collect().toSet === gateBatch)
    } finally spark.sql("DROP TABLE IF EXISTS t_fps_stream")
  }

  test("hammingBlockGateStream: stream == batch == brute force; exact both ways; null sig passes") {
    import graft.operators.{Dedup, Images}
    // blocklist: the dHash signatures of 10 scenes' base images
    val blocked = Images.imageSignatures(
      Images.syntheticCorpus(spark.range(0, 30).filter(col("id") % 3 === 0)
        .toDF("doc_id"), "doc_id", corruptEvery = 0),
      "doc_id", col("content"))
    val index = Dedup.hammingIndex(blocked, "dhash", maxHamming = 8)
    // incoming: variants of blocked scenes (must drop), fresh scenes
    // (must pass), one corrupt payload (null sig -> must pass)
    val incoming = Images.imageSignatures(
      Images.syntheticCorpus(spark.range(0, 60).toDF("doc_id"), "doc_id",
        corruptEvery = 59),
      "doc_id", col("content")).cache()
    val gateBatch = StreamOps.hammingBlockGateStream(incoming, col("dhash"),
        index)
      .select("doc_id").as[Long].collect().toSet
    // brute force: blocked iff within 8 bits of any blocklist sig
    val blockSigs = blocked.select("dhash").as[Long].collect()
    val want = incoming.select("doc_id", "dhash")
      .as[(Long, Option[Long])].collect().collect {
        case (id, None) => id
        case (id, Some(s))
          if !blockSigs.exists(b => java.lang.Long.bitCount(b ^ s) <= 8) => id
      }.toSet
    assert(gateBatch === want)
    // planted behavior: ids 0..29 (blocked scenes + their variants)
    // drop — except id 0, corrupt in the INCOMING corpus (null sig,
    // unprovable, passes); 30..59 (fresh scenes + corrupt 59) pass
    assert(gateBatch.filter(_ < 30) === Set(0L))
    assert((30L until 60L).toSet.subsetOf(gateBatch))
    // the same rows through a REAL stream agree with batch
    val dir = java.nio.file.Files.createTempDirectory("graft_hbg").toString
    incoming.coalesce(1).write.mode("overwrite").parquet(dir)
    val streamed = runToMemory(
      StreamOps.hammingBlockGateStream(
        spark.readStream.schema(incoming.schema).parquet(dir),
        col("dhash"), index),
      "hamm_block_kept")
    assert(streamed.select("doc_id").as[Long].collect().toSet === gateBatch)
    incoming.unpersist(blocking = false)
  }

  test("videoBlockGateStream: stream == batch == the wave loop's gate; undecodable passes") {
    import graft.operators.{Dedup, Video}
    // blocklist: scene 0's sampled frame 0 — every clip sharing (a
    // near-copy of) that still must drop, base AND variants alike
    val flagged = Video.frameSignatures(
      Video.syntheticCorpus(Seq(0L).toDF("doc_id"), "doc_id",
        corruptEvery = 0),
      "doc_id", col("content"), everyNth = 2)
      .filter(col("frame_pos") === 0)
    val index = Dedup.hammingIndex(flagged, "dhash", maxHamming = 8)
    // incoming: scene 0 base + variants (drop), fresh scenes (pass),
    // one corrupt payload (undecodable -> pass)
    val incoming = Video.syntheticCorpus(spark.range(0, 12).toDF("doc_id"),
      "doc_id", variantsPerScene = 3, corruptEvery = 11).cache()
    incoming.count()
    val gateBatch = StreamOps.videoBlockGateStream(incoming, "content",
        index)
      .select("doc_id").as[Long].collect().toSet
    // the SAME decision the wave loop's gate computes (frame-level
    // filter + distinct clip ids), plus the corrupt survivor
    val loopBlocked = Video.frameSignatures(incoming, "doc_id",
        col("content"), everyNth = 2)
      .filter(Dedup.hammingNearSet(col("dhash"), index))
      .select("doc_id").as[Long].collect().toSet
    assert(gateBatch === (0L until 12L).toSet -- loopBlocked)
    // planted: scene 0's variants (ids 1-2, sharing the flagged still)
    // drop; ids 0 and 11 are corrupt in the INCOMING corpus
    // (undecodable, unprovable — pass); fresh scenes pass
    assert(gateBatch === Set(0L) ++ (3L until 12L))
    // the same clips through a REAL stream agree with batch
    val dir = java.nio.file.Files.createTempDirectory("graft_vbg").toString
    incoming.coalesce(1).write.mode("overwrite").parquet(dir)
    val streamed = runToMemory(
      StreamOps.videoBlockGateStream(
        spark.readStream.schema(incoming.schema).parquet(dir),
        "content", index),
      "video_block_kept")
    assert(streamed.select("doc_id").as[Long].collect().toSet === gateBatch)
    incoming.unpersist(blocking = false)
  }

  /** Two-drain wave parity: state `stB` takes `waves` through `ingest`
    * directly, `stS` takes them as one file-source micro-batch each
    * through [[StreamOps.foreachWave]] against one checkpoint (the
    * micro-batch id is the wave number). Asserts equal gold ids per
    * wave, equal signature-state rows and equal wave reports; returns
    * the gold ids per wave and the reports. */
  private def streamWaveParity[S <: IngestCli.WaveState[S]](dir: String,
      waves: Seq[org.apache.spark.sql.DataFrame], stB: S, stS: S)(
      ingest: (S, org.apache.spark.sql.DataFrame, Int) => IngestCli.MediaWaveReport)
      : (Map[Int, Set[Long]], Seq[IngestCli.MediaWaveReport]) = {
    val direct = waves.zipWithIndex.map { case (w, n) => ingest(stB, w, n) }
    val streamed = scala.collection.mutable.ArrayBuffer.empty[IngestCli.MediaWaveReport]
    val inDir = s"$dir/in"; val ckpt = s"$dir/ckpt"
    waves.foreach { w =>
      w.coalesce(1).write.mode("append").parquet(inDir)
      StreamOps.foreachWave(spark.readStream.schema(w.schema).parquet(inDir),
          Some(ckpt)) { (b, n) => streamed += ingest(stS, b, n.toInt) }
        .awaitTermination(120000)
    }
    def gold(st: S) = spark.read.parquet(st.goldPath)
      .select("ingest_wave", "doc_id").as[(Int, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def state(st: S) = spark.table(st.sigTable).collect().map(_.toString).sorted.toSeq
    assert(streamed.toSeq === direct, "one micro-batch per wave, same reports")
    assert(gold(stS) === gold(stB), "gold ids per wave")
    assert(state(stS) === state(stB), "signature-state rows")
    (gold(stS), direct)
  }

  test("media waves via foreachWave == direct ingestMediaWave") {
    import graft.operators.{Dedup, Images}
    val dir = Files.createTempDirectory("graft_mwaves").toString
    def imgs(ids: Long*) = Images.syntheticCorpus(
      ids.toDF("doc_id"), "doc_id", variantsPerScene = 3, corruptEvery = 0)
    // blocklist: scene 2's base still (near-copies blocked too)
    val blockIdx = Dedup.hammingIndex(
      Images.imageSignatures(imgs(6L), "doc_id", col("content")),
      "dhash", maxHamming = 8)
    // wave 0: scenes 0 and 1. Wave 1: 2/5 near the state (drop), 6/7
    // blocked (base + variant), 9 fresh (pass), 209 an EXACT byte
    // recrawl of 9 (the in-wave pair keeps 9), 999 corrupt (null sig,
    // passes unprovable)
    val base = imgs(2L, 5L, 6L, 7L, 9L).as[(Long, Array[Byte])].collect()
    val c9 = base.find(_._1 == 9L).get._2
    val w2 = (base.toSeq ++ Seq((209L, c9), (999L, Array[Byte](1, 2, 3))))
      .toDF("doc_id", "content")
    def fresh(tag: String) = IngestCli.initMediaState(spark,
      s"graft_mwaves_$tag", s"$dir/$tag", maxHamming = 8, numBuckets = 4)
    val (gold, reports) = streamWaveParity(dir, Seq(imgs(0L, 1L, 3L, 4L), w2),
        fresh("b"), fresh("s")) { (st, w, n) =>
      IngestCli.ingestMediaWave(spark, st, w, n, blocklist = Some(blockIdx))
    }
    assert(gold(1) === Set(9L, 999L), s"second-wave gold: ${gold(1)}")
    assert(reports(1).blocked === 2)
    assert(reports(1).live === 7 && reports(1).decoded === 6,
      "the corrupt payload counts as undecodable")
  }

  test("videoIngestStream: stream == batch wave decisions (cross-modal blocklist, positional state-dup, exact recrawl); undecodable passes") {
    import graft.operators.{Dedup, Video}
    val dir = Files.createTempDirectory("graft_vwaves").toString
    def clips(ids: Long*) = Video.syntheticCorpus(
      ids.toDF("doc_id"), "doc_id", variantsPerScene = 3, corruptEvery = 0)
    // cross-modal blocklist: scene 2's base STILL (sampled frame 0) —
    // variants share untouched frames, so near-copy clips block too
    val blockIdx = Dedup.hammingIndex(
      Video.frameSignatures(clips(6L), "doc_id", col("content"),
        everyNth = 2).filter(col("frame_pos") === 0),
      "dhash", maxHamming = 8)
    // wave 0: clips 0 and 3 (scene 0 and 1 bases). Wave 1: 1 = scene-0
    // variant (positional match vs state clip 0 → drop), 6/7 = scene 2
    // base + variant (blocked through the shared still), 9 fresh (pass),
    // 209 an EXACT byte recrawl of 9 (the in-wave pair keeps 9), 999
    // corrupt (undecodable → pass)
    val base = clips(1L, 6L, 7L, 9L).as[(Long, Array[Byte])].collect()
    val c9 = base.find(_._1 == 9L).get._2
    val w2 = (base.toSeq ++ Seq((209L, c9), (999L, Array[Byte](1, 2, 3))))
      .toDF("doc_id", "content")
    def fresh(tag: String) = IngestCli.initVideoState(spark,
      s"graft_vwaves_$tag", s"$dir/$tag", maxHamming = 8, minFrames = 2,
      everyNth = 2, numBuckets = 4)
    val (gold, reports) = streamWaveParity(dir, Seq(clips(0L, 3L), w2),
        fresh("b"), fresh("s")) { (st, w, n) =>
      IngestCli.ingestVideoWave(spark, st, w, n, blocklist = Some(blockIdx))
    }
    assert(gold(1) === Set(9L, 999L), s"second-wave gold: ${gold(1)}")
    assert(reports(1).blocked === 2)
    assert(reports(1).live === 6 && reports(1).decoded === 5,
      "the corrupt payload counts as undecodable")
  }

  test("zero-frame clips (container parses, every frame fails decode) are exact-drop-EXEMPT: null clip_sig") {
    import graft.operators.Video
    // hand-rolled RIFF/AVI with one 00dc chunk of NON-JPEG payload:
    // aviFrames parses it, decodeGray rejects every frame — the clip
    // is decoded with zero signed frames
    def le32(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def fakeAvi(payload: Array[Byte]): Array[Byte] = {
      val chunk = "00dc".getBytes("US-ASCII") ++ le32(payload.length) ++ payload
      val movi = "LIST".getBytes("US-ASCII") ++ le32(4 + chunk.length) ++
        "movi".getBytes("US-ASCII") ++ chunk
      "RIFF".getBytes("US-ASCII") ++ le32(4 + movi.length) ++
        "AVI ".getBytes("US-ASCII") ++ movi
    }
    val dir = Files.createTempDirectory("graft_zero_frames").toString
    // two MUTUALLY-DISTINCT zero-frame clips: nothing is provable
    // about either, so BOTH must pass every gate — a shared
    // empty-signature constant would let one drop the other
    val w = Seq((501L, fakeAvi(Array[Byte](9, 9, 9, 9))),
      (502L, fakeAvi(Array[Byte](8, 8, 8, 8)))).toDF("doc_id", "content")
    Video.clipInfo(w, "doc_id", col("content")).collect().foreach { r =>
      assert(r.getAs[Boolean]("decoded"), "the container itself parsed")
    }
    assert(Video.frameSignatures(w, "doc_id", col("content")).isEmpty,
      "zero signed frames -> no signature rows, never a shared constant")
    def fresh(tag: String) = IngestCli.initVideoState(spark,
      s"graft_zero_frames_$tag", s"$dir/$tag", maxHamming = 8,
      minFrames = 2, everyNth = 2, numBuckets = 4)
    val (stB, stS) = (fresh("b"), fresh("s"))
    val (gold, _) = streamWaveParity(dir,
        Seq(Video.syntheticCorpus(Seq(0L).toDF("doc_id"), "doc_id",
          corruptEvery = 0), w), stB, stS) { (st, wave, n) =>
      IngestCli.ingestVideoWave(spark, st, wave, n)
    }
    assert(gold(1) === Set(501L, 502L),
      "stream ≡ batch: every zero-frame clip reaches gold")
    assert(spark.table(stS.sigTable).filter(col("doc_id").isin(501L, 502L)).isEmpty,
      "no signature state is recorded for a clip with no signed frames")
  }

  test("streaming cluster assignment parity: micro-batch waves ≡ batch appendClusters") {
    import graft.operators.Incremental
    val d = Files.createTempDirectory("graft-stream-clusters").toString
    def tabs(tag: String) = Incremental.ClusterTables(
      s"t_scl_post$tag", s"$d/post$tag", s"t_scl_member$tag", s"$d/member$tag",
      s"t_scl_alias$tag", s"$d/alias$tag", s"t_scl_edges$tag", s"$d/edges$tag",
      numBuckets = 4)
    val tS = tabs("s"); val tB = tabs("b")
    def resolved(t: Incremental.ClusterTables) =
      Incremental.resolveClusters(spark, t).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w0 = Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("doc_id", "text")
    val w1 = Seq((3L, "alpha beta gamma one two three")).toDF("doc_id", "text")
    val w2 = Seq((0L, "alpha beta gamma delta extra"),
      (4L, "one two three five"), (5L, "word")).toDF("doc_id", "text")
    try {
      // batch ground truth: the bridge merge + smaller-id merge chain
      Seq(tS, tB).foreach(t => Incremental.writeClusterState(w0, "doc_id",
        col("text"), n = 2, threshold = 0.3, t))
      Seq(w1, w2).foreach(w => Incremental.appendClusters(w, "doc_id",
        col("text"), n = 2, threshold = 0.3, tB))
      // stream path: the same waves arrive as two file-source
      // micro-batches against one checkpoint — each micro-batch is one
      // wave through the SAME persisted state
      val inDir = s"$d/in"; val ckpt = s"$d/ckpt"; val assignDir = s"$d/assign"
      def drain(): Unit = {
        val q = StreamOps.clusterAssignStream(
          spark.readStream.schema(w1.schema).parquet(inDir),
          "doc_id", "text", n = 2, threshold = 0.3, tS, assignDir,
          checkpointDir = Some(ckpt))
        q.awaitTermination(120000)
      }
      w1.coalesce(1).write.mode("append").parquet(inDir)
      drain()
      w2.coalesce(1).write.mode("append").parquet(inDir)
      drain()
      assert(resolved(tS) === resolved(tB),
        "stream-cadence waves must resolve exactly as the batch path")
      assert(resolved(tS) ===
        Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 5L))
      val assigns = spark.read.parquet(assignDir)
      assert(assigns.count() === 4, "one assignment row per streamed doc")
      assert(assigns.select("micro_batch").distinct().count() === 2,
        "two waves arrived as two micro-batches")
    } finally Seq(tS, tB).foreach(x => Seq(x.postTable, x.memberTable,
      x.aliasTable, x.edgeTable)
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n")))
  }

  test("streaming WINNOW cluster assignment parity: micro-batch waves ≡ batch appendWinnowClusters") {
    import graft.operators.Incremental
    val d = Files.createTempDirectory("graft-stream-winnow").toString
    def tabs(tag: String) = Incremental.ClusterTables(
      s"t_swc_post$tag", s"$d/post$tag", s"t_swc_member$tag", s"$d/member$tag",
      s"t_swc_alias$tag", s"$d/alias$tag", s"t_swc_edges$tag", s"$d/edges$tag",
      numBuckets = 4)
    val tS = tabs("s"); val tB = tabs("b")
    def resolved(t: Incremental.ClusterTables) =
      Incremental.resolveClusters(spark, t).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the q170 fixture geometry: 14-word shared runs guarantee ≥ 2
    // shared distinct fingerprints at k=4/w=4 (two disjoint 7-word
    // windows); the short doc has no fingerprints → singleton
    val run = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi"
    val other = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen"
    val w0 = Seq((1L, s"$run tail one"), (2L, s"$other tail two"))
      .toDF("doc_id", "text")
    val w1 = Seq((3L, s"$run $other")).toDF("doc_id", "text") // bridge
    val w2 = Seq((0L, s"$run prefix zero"), (5L, "short words only"))
      .toDF("doc_id", "text")
    try {
      // batch ground truth over the same persisted-state mechanics
      Seq(tS, tB).foreach(t => Incremental.writeWinnowClusterState(
        w0, "doc_id", col("text"), t))
      Seq(w1, w2).foreach(w => Incremental.appendWinnowClusters(
        w, "doc_id", col("text"), tB))
      val inDir = s"$d/in"; val ckpt = s"$d/ckpt"; val assignDir = s"$d/assign"
      def drain(): Unit = {
        val q = StreamOps.clusterAssignStream(
          spark.readStream.schema(w1.schema).parquet(inDir),
          "doc_id", "text", n = 2, threshold = 0.3, tS, assignDir,
          checkpointDir = Some(ckpt), winnow = true)
        q.awaitTermination(120000)
      }
      w1.coalesce(1).write.mode("append").parquet(inDir)
      drain()
      w2.coalesce(1).write.mode("append").parquet(inDir)
      drain()
      assert(resolved(tS) === resolved(tB),
        "winnow stream waves must resolve exactly as the batch path")
      assert(resolved(tS) ===
        Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 5L -> 5L))
      val assigns = spark.read.parquet(assignDir)
      assert(assigns.count() === 3, "one assignment row per streamed doc")
      assert(assigns.select("micro_batch").distinct().count() === 2,
        "two waves arrived as two micro-batches")
      // the persisted postings are the FP schema — the stream really
      // drove the winnow enumerator, not the gram one
      assert(spark.table(tS.postTable).columns.contains("fp"))
    } finally Seq(tS, tB).foreach(x => Seq(x.postTable, x.memberTable,
      x.aliasTable, x.edgeTable, s"${x.memberTable}_tomb",
      s"${x.memberTable}_patch")
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n")))
  }
}
