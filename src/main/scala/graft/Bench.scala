package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: one JSON line with per-query wall times at
  * SPARK_GRAFT_SF_DIR (driver runs sf0.1 → BENCH_r{N}.json).
  *
  * Every query is forced through the `noop` sink — `count()` would let
  * Catalyst prune away exactly the projections being measured (e.g.
  * the normalization chain), noop evaluates every output column
  * distributed, writes nothing.
  *
  * Besides the SparkEntry queries, dedicated `op_*` entries mirror the
  * reference's micro-benchmark rows (BASELINE.md: read/filter/
  * normalize/dedup-exact/dedup-fuzzy/write) on the documents table.
  */
object Bench {

  private def force(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.get(s"local[$cpus]", cpus.toInt)

    val tmpOut = java.nio.file.Files.createTempDirectory("graft-bench").toString
    // staged state for a 30x rehearsal runs to gigabytes — repeated
    // bench invocations must not fill the disk (a full /tmp aborted
    // the round-7 scale runs silently)
    sys.addShutdownHook {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpOut))
    }

    // warm-up: session init, codegen compiler, parquet footer caches —
    // one tiny job so the first measured op isn't charged JVM startup
    force(spark.range(100).toDF("warmup"))

    // steady-state warm-up: run each heavy operator family once on a
    // tiny sample so timed runs measure the operator, not first-use
    // costs (HotSpot compiles each family's generated classes from
    // scratch — cold runs measure 3-6× slower than steady state; ml
    // MinHashLSH additionally pays one-time init). Off the clock by
    // design: the baseline's numbers are steady-state throughput too.
    locally {
      val warmDocs = Tables.documents(spark, sfDir).limit(1024).cache()
      warmDocs.count()
      force(operators.Dedup.fuzzyDedup(warmDocs, "doc_id", col("text"),
        threshold = 0.5, shingleSize = 3))
      force(operators.Dedup.minhashDedup(warmDocs, "doc_id", col("text"),
        threshold = 0.5, numPerm = 128, bands = 32, shingleSize = 3))
      force(operators.Dedup.jaccardPairs(warmDocs, "doc_id", col("text"), t = 0.8, n = 8))
      force(operators.Dedup.simhashDedup(warmDocs, "doc_id", col("text")))
      warmDocs.unpersist(blocking = false)
      val warmEmb = Tables.embeddings(spark, sfDir).limit(256)
      force(operators.Similarity.similarPairsApprox(warmEmb, "vec_id", "embedding", t = 0.4))
    }

    // Pre-built incremental state, OFF the clock: q100 times the
    // composed build+probe; op_incremental_probe isolates the
    // steady-state probe against an existing bucketed digest table —
    // the cost a recurring-ingestion batch actually pays.
    spark.sql("DROP TABLE IF EXISTS graft_bench_digests")
    operators.Incremental.writeDigestTable(
      Tables.documents(spark, sfDir).filter(col("doc_id") % 5 =!= 0),
      col("text"), "graft_bench_digests", s"$tmpOut/digests", numBuckets = 8)
    spark.sql("DROP TABLE IF EXISTS graft_bench_sigs")
    operators.Incremental.writeBandedSignatures(
      Tables.documents(spark, sfDir).filter(col("doc_id") % 5 =!= 0),
      "doc_id", col("text"), "graft_bench_sigs", s"$tmpOut/sigs", numBuckets = 8)
    spark.sql("DROP TABLE IF EXISTS graft_bench_cells")
    operators.Incremental.writeCellVectors(
      Tables.embeddings(spark, sfDir).filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", "graft_bench_cells", s"$tmpOut/cells", numBuckets = 8,
      nCells = 64)
    spark.sql("DROP TABLE IF EXISTS graft_bench_snapshot")
    operators.Incremental.writeSnapshotTable(
      Tables.documents(spark, sfDir), "doc_id", Seq("text", "lang"),
      "graft_bench_snapshot", s"$tmpOut/snapshot", numBuckets = 8)
    // NB count log with two appended blocks — op_nb_dict_merge
    // isolates the steady-state dictionary derivation (bucket-local
    // merge, vocabulary-sized) that replaces a full corpus retrain
    spark.sql("DROP TABLE IF EXISTS graft_bench_nb_log")
    operators.Incremental.writeNbCounts(
      Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 0),
      col("text"), col("n_chars") >= 300,
      "graft_bench_nb_log", s"$tmpOut/nb_log", numBuckets = 8)
    operators.Incremental.appendNbCounts(
      Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 1),
      col("text"), col("n_chars") >= 300, "graft_bench_nb_log",
      numBuckets = 8)
    // BM25 index state, OFF the clock: q140 times build + append +
    // probe together; op_bm25_probe isolates the recurring query-time
    // cost against an existing bucketed posting table (bucket-pruned
    // scan + log-sized stats fold).
    spark.sql("DROP TABLE IF EXISTS graft_bench_bm25_post")
    spark.sql("DROP TABLE IF EXISTS graft_bench_bm25_stats")
    operators.Incremental.writePostings(
      Tables.documents(spark, sfDir), "doc_id", col("text"),
      "graft_bench_bm25_post", s"$tmpOut/bm25_post", numBuckets = 8)
    operators.Incremental.writeIndexStats(
      Tables.documents(spark, sfDir), col("text"),
      "graft_bench_bm25_stats", s"$tmpOut/bm25_stats")
    // Takedown state, OFF the clock: q137 times build + tombstones +
    // compaction together; op_takedown_read isolates the at-read
    // retraction cost — the broadcast anti-join every consumer pays
    // between a takedown and the next compaction pass.
    spark.sql("DROP TABLE IF EXISTS graft_bench_fp_post")
    operators.Incremental.writeFingerprintTable(
      Tables.documents(spark, sfDir), "doc_id", col("text"),
      "graft_bench_fp_post", s"$tmpOut/fp_post", numBuckets = 8)
    spark.sql("DROP TABLE IF EXISTS graft_bench_tombs")
    operators.Incremental.writeTombstones(
      Tables.documents(spark, sfDir).filter(col("doc_id") % 50 === 0)
        .select("doc_id"),
      "doc_id", "graft_bench_tombs", s"$tmpOut/tombs")
    // Synthetic image corpus staged to parquet, OFF the clock: q141
    // times generate + encode + decode + dedup together;
    // op_image_phash isolates the recurring decode+signature scan —
    // the per-corpus cost an image-dedup pass actually pays.
    operators.Images.syntheticCorpus(
        Tables.documents(spark, sfDir).select("doc_id"), "doc_id")
      .write.mode("overwrite").parquet(s"$tmpOut/images")
    // same staging for the audio modality: op_audio_ehash isolates
    // the recurring RIFF decode + fingerprint scan
    operators.Audio.syntheticCorpus(
        Tables.documents(spark, sfDir).select("doc_id"), "doc_id")
      .write.mode("overwrite").parquet(s"$tmpOut/audio")
    // and the video modality: op_video_frames isolates the recurring
    // AVI walk + per-frame JPEG decode + dHash scan
    operators.Video.syntheticCorpus(
        Tables.documents(spark, sfDir).select("doc_id"), "doc_id")
      .write.mode("overwrite").parquet(s"$tmpOut/video")
    // Materialized epoch order, OFF the clock: q138 times the
    // permutation build; op_epoch_resume isolates the loader's
    // recurring addressable read — resume the final 10% of epoch 3
    // from the written order (a pruned scan, not a re-shuffle).
    operators.Split.epochOrder(
        Tables.documents(spark, sfDir).select("doc_id"),
        col("doc_id"), epoch = 3)
      .write.mode("overwrite").parquet(s"$tmpOut/epoch3")
    val epochResumeAt = Tables.documents(spark, sfDir).count() * 9L / 10L

    // Pre-trained NB classifier dictionary, OFF the clock: q125/q126
    // time the composed train+score; op_nb_score_mapside isolates the
    // steady-state map-side scoring scan — the per-corpus cost a
    // production quality gate pays once the dictionary exists.
    val nbLabel = col("n_chars") >= 300
    val (nbKeys, nbWeights) = operators.Classifier.collectDict(
      operators.Classifier.nbTrain(Tables.documents(spark, sfDir),
        col("text"), nbLabel))
    val nbPrior = operators.Classifier.collectPrior(
      Tables.documents(spark, sfDir), nbLabel)

    // Staged streaming inputs, OFF the clock (parquet-file sources —
    // the same driving pattern as StreamingSpec; sinks are noop with
    // explicit checkpoints). st_* rows measure the full micro-batch
    // pipeline over the table's rows; rows/sec follows from the row
    // counts at this SF.
    val docs0 = Tables.documents(spark, sfDir)
    docs0.write.mode("overwrite").parquet(s"$tmpOut/st_docs")
    Tables.events(spark, sfDir).write.mode("overwrite").parquet(s"$tmpOut/st_events")
    docs0.select(col("lang").as("key"), col("doc_id").as("id"),
        split(col("text"), "\\s+").as("tokens"),
        timestamp_micros(lit(1767225600000000L) + col("doc_id") * 1000000L).as("ts"))
      .write.mode("overwrite").parquet(s"$tmpOut/st_keyed")
    streaming.StreamOps.keyByCell(Tables.embeddings(spark, sfDir), "vec_id", "embedding",
        nCells = 64)
      .write.mode("overwrite").parquet(s"$tmpOut/st_vecs")
    val stDigests = streaming.StreamOps.evalGramDigests(
      docs0.filter(col("doc_id") % 7 === 0), col("text"), nWords = 5)
    // seen-set Bloom for the novelty gate, built off-clock from half
    // the corpus (the gate itself is the thing being measured); same
    // digest identity as Incremental.gramBloom over the state table
    val stSeenBloom = operators.Dedup.evalGramBloom(
      docs0.filter(col("doc_id") % 2 === 0), col("text"), nWords = 4)
    // corpus fingerprint Bloom for the overlap gate, same off-clock rule
    val stFpBloom = operators.Incremental.fingerprintBloom(
      docs0.filter(col("doc_id") % 2 === 0)
        .select(explode(operators.Winnow.fingerprintSet(col("text"))).as("fp")))
    // image signatures staged + a blocklist index (even ids) for the
    // media blocklist gate, same off-clock rule
    val stImgSigs = operators.Images.imageSignatures(
      spark.read.parquet(s"$tmpOut/images"), "doc_id", col("content"))
    stImgSigs.write.mode("overwrite").parquet(s"$tmpOut/st_imgsigs")
    val stBlockIdx = operators.Dedup.hammingIndex(
      stImgSigs.filter(col("doc_id") % 2 === 0), "dhash", maxHamming = 8)
    // pre-built Hamming-signature state, OFF the clock: q144 times
    // write + append + probe together; op_hamming_probe isolates the
    // recurring batch-vs-state probe — the steady-state cost every
    // media/SimHash ingestion wave pays (the op_bm25_probe stance)
    spark.sql("DROP TABLE IF EXISTS graft_bench_hamming")
    operators.Incremental.writeHammingState(
      stImgSigs.filter(col("doc_id") % 2 === 0), "doc_id", "dhash",
      "graft_bench_hamming", s"$tmpOut/hamming_state", maxHamming = 8,
      numBuckets = 8)
    // positional (video) Hamming state, same stance: q147 times
    // build + append + probe composed; op_frame_probe isolates the
    // recurring wave-vs-state probe over pre-staged frame signatures
    operators.Video.frameSignatures(
        spark.read.parquet(s"$tmpOut/video"), "doc_id", col("content"),
        everyNth = 2)
      .write.mode("overwrite").parquet(s"$tmpOut/st_framesigs")
    spark.sql("DROP TABLE IF EXISTS graft_bench_framestate")
    operators.Incremental.writeFrameHammingState(
      spark.read.parquet(s"$tmpOut/st_framesigs")
        .filter(col("doc_id") % 2 === 0),
      "doc_id", "dhash", "graft_bench_framestate", s"$tmpOut/frame_state",
      maxHamming = 8, numBuckets = 8, everyNth = 2)

    def staged(path: String) =
      spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
    var stRuns = 0
    def runStream(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      stRuns += 1 // fresh checkpoint per run — never resume a prior run's offsets
      val q = df.writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"$tmpOut/ckpt_${name}_$stRuns")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      // awaitTermination(timeout) returns false on expiry with the
      // query still RUNNING — a leaked query would overlap every
      // subsequent timed sample and poison the artifact. Stop it and
      // fail the run loudly; a truncated sample must not look real.
      if (!q.awaitTermination(600000)) {
        q.stop()
        throw new RuntimeException(
          s"stream $name exceeded the 600 s bench timeout")
      }
    }

    // BASELINE.md op-for-op micro-benchmarks on the corpus-shaped table.
    val ops: Seq[(String, () => Unit)] = Seq(
      "op_read_parquet" -> (() => force(Tables.documents(spark, sfDir))),
      "op_filter_nulls" -> (() => force(
        Tables.documents(spark, sfDir)
          .filter(col("text").isNotNull && length(trim(col("text"))) > 0))),
      "op_normalize_unicode" -> (() => force(
        Tables.documents(spark, sfDir).select(col("doc_id"),
          functions.text.normalize_text(col("text"), "nah").as("t")))),
      "op_dedup_exact" -> (() => force(
        operators.Dedup.keepBestWindow(Tables.documents(spark, sfDir),
          operators.Dedup.compositeKey(Seq("text")), Seq(asc("doc_id"))))),
      "op_dedup_fuzzy" -> (() => force(
        operators.Dedup.fuzzyDedup(Tables.documents(spark, sfDir), "doc_id", col("text"),
          threshold = 0.5, shingleSize = 3))),
      "op_dedup_minhash_banded" -> (() => force(
        operators.Dedup.minhashDedup(Tables.documents(spark, sfDir), "doc_id", col("text"),
          threshold = 0.5, numPerm = 128, bands = 32, shingleSize = 3))),
      "op_write_parquet" -> (() => Tables.documents(spark, sfDir)
        .write.mode("overwrite").parquet(s"$tmpOut/docs")),
      "op_incremental_probe" -> (() => force(
        operators.Incremental.exactDedupAgainstTable(
          Tables.documents(spark, sfDir).filter(col("doc_id") % 3 === 0),
          col("text"), spark.table("graft_bench_digests")))),
      // steady-state probes for the other persisted state families —
      // the recurring per-batch cost once the state exists
      "op_incremental_probe_fuzzy" -> (() => force(
        operators.Incremental.minhashDedupAgainstTable(
          Tables.documents(spark, sfDir).filter(col("doc_id") % 3 === 0),
          "doc_id", col("text"), spark.table("graft_bench_sigs"),
          threshold = 0.5))),
      "op_incremental_probe_semantic" -> (() => force(
        operators.Incremental.semanticDedupAgainstTable(
          Tables.embeddings(spark, sfDir).filter(col("vec_id") % 3 === 0),
          "vec_id", "embedding", spark.table("graft_bench_cells"),
          eps = 0.6, nCells = 64))),
      "op_snapshot_probe" -> (() => force(
        operators.Incremental.snapshotDiffAgainstTable(
          Tables.documents(spark, sfDir).filter(col("doc_id") % 7 =!= 0),
          "doc_id", Seq("text", "lang"), spark.table("graft_bench_snapshot")))),
      "op_nb_score_mapside" -> (() => force(
        operators.Classifier.nbScoreMapSide(Tables.documents(spark, sfDir),
          "doc_id", col("text"), nbKeys, nbWeights, nbPrior))),
      "op_nb_dict_merge" -> (() => force(
        operators.Incremental.nbDictFromTable(
          spark.table("graft_bench_nb_log")))),
      "op_bm25_probe" -> (() => force(
        operators.Incremental.bm25AgainstIndex(
          spark.table("graft_bench_bm25_post"),
          spark.table("graft_bench_bm25_stats"), "doc_id",
          queryTerms = Seq("spark", "shuffle", "join"), k = 20))),
      "op_image_phash" -> (() => force(
        operators.Images.imageSignatures(
          spark.read.parquet(s"$tmpOut/images"), "doc_id", col("content")))),
      "op_audio_ehash" -> (() => force(
        operators.Audio.audioSignatures(
          spark.read.parquet(s"$tmpOut/audio"), "doc_id", col("content")))),
      "op_video_frames" -> (() => force(
        operators.Video.frameSignatures(
          spark.read.parquet(s"$tmpOut/video"), "doc_id", col("content"),
          everyNth = 2))),
      "op_hamming_probe" -> (() => force(
        operators.Incremental.hammingDupIdsAgainstTable(
          spark.read.parquet(s"$tmpOut/st_imgsigs")
            .filter(col("doc_id") % 2 === 1),
          "doc_id", "dhash", spark.table("graft_bench_hamming"),
          maxHamming = 8))),
      "op_frame_probe" -> (() => force(
        operators.Incremental.frameHammingDupIdsAgainstTable(
          spark.read.parquet(s"$tmpOut/st_framesigs")
            .filter(col("doc_id") % 2 === 1),
          "doc_id", "dhash", spark.table("graft_bench_framestate"),
          maxHamming = 8, minFrames = 2, everyNth = 2))),
      "op_takedown_read" -> (() => force(
        operators.Incremental.retractIds(
          spark.table("graft_bench_fp_post"), "corpus_id",
          spark.table("graft_bench_tombs")))),
      "op_epoch_resume" -> (() => force(
        spark.read.parquet(s"$tmpOut/epoch3")
          .filter(col("epoch_pos") >= epochResumeAt))))

    // Streaming throughput micros: one AvailableNow pass of each
    // streaming operator over the staged table (seconds; divide the
    // SF's row count by the value for rows/sec).
    val streams: Seq[(String, () => Unit)] = {
      import spark.implicits._
      Seq(
        "st_incremental_dedup" -> (() => runStream(
          streaming.StreamOps.incrementalDedup(
            staged(s"$tmpOut/st_events"), Seq("event_id")), "incdedup")),
        "st_fuzzy_dedup" -> (() => runStream(
          streaming.StreamOps.fuzzyDedupStream(
            staged(s"$tmpOut/st_keyed").as[streaming.StreamOps.Keyed]).toDF(), "fuzzy")),
        "st_semantic_dedup" -> (() => runStream(
          streaming.StreamOps.semanticDedupStream(
            staged(s"$tmpOut/st_vecs").as[streaming.StreamOps.KeyedVec]).toDF(), "sem")),
        "st_decontaminate" -> (() => runStream(
          streaming.StreamOps.decontaminateStream(
            staged(s"$tmpOut/st_docs"), col("text"), stDigests, nWords = 5), "decon")),
        "st_quality_gate" -> (() => runStream(
          streaming.StreamOps.qualityGateStream(
            staged(s"$tmpOut/st_docs"), col("text"),
            nbKeys, nbWeights, nbPrior, minScore = 0.0), "qgate")),
        "st_novelty_gate" -> (() => runStream(
          streaming.StreamOps.noveltyGateStream(
            staged(s"$tmpOut/st_docs"), col("text"), stSeenBloom,
            n = 4, minNovelty = 0.5), "ngate")),
        "st_overlap_gate" -> (() => runStream(
          streaming.StreamOps.overlapGateStream(
            staged(s"$tmpOut/st_docs"), col("text"), stFpBloom,
            maxShared = 2), "ovgate")),
        "st_hamming_block_gate" -> (() => runStream(
          streaming.StreamOps.hammingBlockGateStream(
            staged(s"$tmpOut/st_imgsigs"), col("dhash"), stBlockIdx),
          "hblock")),
        "st_video_block_gate" -> (() => runStream(
          streaming.StreamOps.videoBlockGateStream(
            staged(s"$tmpOut/video"), "content", stBlockIdx),
          "vblock")))
    }

    val queryRuns: Seq[(String, () => Unit)] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        name -> (() => force(fn(spark, sfDir)))
      }

    // SPARK_GRAFT_ONLY=<regex>: run just the matching subset (local
    // iteration on one hot query without paying the full sweep).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val selected = (ops ++ streams ++ queryRuns).filter { case (name, _) =>
      only.forall(_.findFirstIn(name).isDefined)
    }

    def measureOnce(run: () => Unit): Double = {
      val t0 = System.nanoTime()
      val ok = try { run(); true } catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      // Isolation between measurements: a heavy query's async teardown
      // (ContextCleaner dropping its shuffle/broadcast/checkpoint
      // blocks is driven by weak refs, i.e. by GC) otherwise bleeds
      // into the NEXT query's wall time. Run it now, off the clock.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
      Thread.sleep(300)
      if (ok) dt else -1.0
    }
    val results = selected.map { case (name, run) =>
      // best-of-2 for EVERY entry: single-shot wall times on this box
      // swing ~2x on GC/JIT alignment (±50% per-query, SCALING.md),
      // and round-over-round comparison of single samples manufactured
      // phantom 1.3-2x "regressions" on untouched sub-second queries.
      // The second pass runs on a warm plan/codegen cache, so the
      // sweep costs well under 2x wall. Every sample is recorded in
      // the artifact ("samples") so consumers can see the run count
      // per row instead of inferring the methodology.
      val first = measureOnce(run)
      val samples =
        if (first >= 0) {
          // a failed second pass must not erase the valid first one
          val second = measureOnce(run)
          if (second >= 0) Seq(first, second) else Seq(first)
        } else Seq(first)
      name -> samples
    }

    val best = results.map { case (k, ss) =>
      k -> (if (ss.exists(_ >= 0)) ss.filter(_ >= 0).min else -1.0) }
    val qs = best.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val samplesJson = results.map { case (k, ss) =>
      "\"" + k + "\":[" + ss.map(v => f"$v%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = best.map(_._2).filter(_ >= 0).sum
    val json = f"""{"metric":"total","value":$total%.3f,"unit":"sec","cpus":$cpus,"queries":$qs,"samples":$samplesJson,"sf":"$sfDir"}"""
    println(json)
    // The driver scrapes this line from a bounded log tail; with ~100
    // queries the line can outgrow the tail and arrive truncated
    // (BENCH_r03.json parsed=null). Persist the artifact to a file so
    // it survives regardless of log length. Best-effort: a read-only
    // workspace must not fail the bench itself. A SPARK_GRAFT_ONLY
    // subset run is a scratch A/B by definition — it must never
    // overwrite the full-suite artifact (this clobbered the committed
    // sf0.1 BENCH.json twice during round-6 rehearsals).
    try {
      if (only.isDefined && !sys.env.contains("SPARK_GRAFT_BENCH_OUT"))
        throw new RuntimeException(
          "subset run: skipping BENCH.json (set SPARK_GRAFT_BENCH_OUT to force)")
      // Same hazard for full-suite runs at a smoke scale: the durable
      // artifact is defined at sf0.1, and a full sf0.001 smoke would
      // silently replace it with smoke numbers (it did, twice).
      if (!sfDir.contains("sf0.1") && !sys.env.contains("SPARK_GRAFT_BENCH_OUT"))
        throw new RuntimeException(
          s"non-sf0.1 run ($sfDir): skipping BENCH.json (set SPARK_GRAFT_BENCH_OUT to force)")
      val bytes = (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
      // Full-suite sf0.1 detail always lands in a CORE-COUNT-SUFFIXED
      // file, so a low-core scaling sweep (the driver re-runs the
      // bench at 8 cores) can never clobber the full-core detail —
      // exactly that clobber cost round 12 its committed 32-core
      // per-query data. Forced subset/smoke runs (SPARK_GRAFT_BENCH_OUT
      // past the guards above) write only their explicit path.
      if (only.isEmpty && sfDir.contains("sf0.1"))
        java.nio.file.Files.write(java.nio.file.Paths.get(
          s"/root/repo/BENCH_detail_c$cpus.json"), bytes)
      // BENCH.json stays the durable full-machine artifact: written
      // only when this run used every core (or when the caller forced
      // an explicit path via SPARK_GRAFT_BENCH_OUT).
      val explicit = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      if (explicit.isDefined ||
          cpus.toInt == Runtime.getRuntime.availableProcessors())
        java.nio.file.Files.write(java.nio.file.Paths.get(
          explicit.getOrElse("/root/repo/BENCH.json")), bytes)
    } catch { case e: Exception =>
      System.err.println(s"bench: could not persist BENCH.json: $e")
    }
    // The full line's HEAD is what truncation eats (the tail of the log
    // survives), so the LAST lines are the compact ones. Emit a
    // per-query map (best-of-samples, 2 decimals — the samples detail
    // stays file-only) so a driver reading only the log tail can
    // compute per-query deltas, then the total line LAST, always
    // complete within any tail window.
    val qsCompact = best.map { case (k, v) => "\"" + k + f"\":$v%.2f" }
      .mkString("{", ",", "}")
    println(f"""{"metric":"per_query","cpus":$cpus,"queries":$qsCompact,"sf":"$sfDir"}""")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","cpus":$cpus,"queries":{},"sf":"$sfDir","detail":"BENCH_detail_c$cpus.json"}""")
    spark.stop()
  }
}
