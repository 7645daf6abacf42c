package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Incremental}

/** Recurring-ingestion driver — the WAVE loop the incremental state
  * families exist for, composed the way [[CurationCli]] composes the
  * batch gates. Each arriving batch (a crawl snapshot, a CDC pull —
  * the reference's incremental cursor loop,
  * /root/reference/src/connectors/oracle_connector.py:95-169) runs:
  *
  *   takedown enforcement (tombstoned ids never enter) →
  *   quality gate (length bounds — map-side, first) →
  *   exact dedup: in-wave keep-lowest-id + anti-join against the
  *     persisted digest state (batch-side shuffle only) →
  *   fuzzy dedup: in-wave banded MinHash + probe against the
  *     persisted banded-signature state →
  *   state append (digests + signatures — SEEN-not-kept, see below) →
  *   gold append (partitioned by wave) → release manifest.
  *
  * '''Equivalence contract''' (IngestSpec): with waves arriving in id
  * order (every new id above all previously ingested ones — the CDC
  * watermark shape) and healthy LSH buckets (≤ maxBucketSize), the
  * gold corpus after any number of waves is IDENTICAL to
  * [[batchEquivalent]] — the from-scratch batch pipeline over the
  * union of all waves. Two details make that hold:
  *
  *   - the signature state appends every document that REACHED the
  *     fuzzy stage, dropped or not — batch dedup drops a doc similar
  *     to ANY lower-id doc including ones that were themselves
  *     dropped (the round-5 chain a~b~c), so a survivors-only state
  *     would silently keep c;
  *   - in-wave and against-state drop decisions are computed over the
  *     SAME fuzzy-stage input and unioned, never chained, so a doc
  *     dropped by the state probe still serves as an in-wave mate.
  *
  * '''Takedown''' ([[applyTakedown]]): tombstones append to the
  * bucketed tombstone table (enforced at the top of every later
  * wave), gold is rewritten blue/green minus the ids, the id-carrying
  * signature state compacts via [[Incremental.compactState]], and the
  * content-keyed digest state compacts by the retracted documents'
  * OWN digest keys (recomputed from their gold text before the gold
  * rewrite). Retraction removes content, not history: documents
  * dropped earlier as a retracted document's duplicates stay dropped
  * (re-run the batch pipeline over the retained corpus when decisions
  * themselves must be replayed). A retracted doc that never reached
  * gold (dropped as a dup) leaves its digest behind — the documented
  * rebuild-from-retained-corpus path for content-keyed state.
  *
  * '''Scale shape''' (the recurring 100 TB question): a wave pays
  * wave-sized costs only — the digest/signature probes shuffle the
  * batch side alone (state arrives bucket-aligned from disk,
  * plan-asserted in IncrementalSpec), appends are batch-sized bucketed
  * writes, gold append touches no prior wave, and takedown costs are
  * tombstone-broadcast + state-sized rewrites at the operator's own
  * cadence. Nothing in the loop ever re-reads previously ingested
  * corpus text.
  *
  * Usage:
  *   runMain graft.IngestCli <stateDir> <wave1.parquet> [wave2 ...]
  * with GRAFT_TAKEDOWN optionally naming a parquet of doc_ids to
  * retract before the waves run. Waves need (doc_id, text, ...);
  * extra columns ride to gold.
  */
object IngestCli {

  final case class IngestState(ns: String, dir: String, numBuckets: Int,
      version: Int = 0, digestVersion: Int = 0, goldVersion: Int = 0) {
    def digestTable: String = s"${ns}_digests_v$digestVersion"
    def sigTable: String = s"${ns}_sigs_v$version"
    def tombTable: String = s"${ns}_tombstones"
    def goldPath: String = s"$dir/gold_v$goldVersion"
    def manifestPath: String = s"$dir/manifest"
  }

  final case class WaveReport(wave: Int, incoming: Long, live: Long,
      gated: Long, exactSurvivors: Long, accepted: Long, goldTotal: Long)

  /** Cadence policy for the duplicate-signature compaction epilogue
    * the run* loops apply ([[Incremental.dedupCompactBandedState]] /
    * [[Incremental.dedupCompactFrameState]] — decision-preserving by
    * construction). Trigger arithmetic: compact when the documents
    * appended since the last compaction exceed `ratio` × the state's
    * document count AT that compaction (and at least `minDocs`, so
    * small states never churn). Amortization: each compaction is one
    * state-sized pass, fired only after appends could have grown the
    * state by the same factor — total compaction work ≤ (1 + 1/ratio)
    * × total append work for ANY wave schedule, while a steady-state
    * recrawl loop's table stays ≤ (1 + ratio) × its distinct content
    * instead of growing by a wave-sized slab forever. `ratio <= 0`
    * disables the epilogue. */
  final case class CompactionPolicy(ratio: Double = 0.5,
      minDocs: Long = 100000) {
    def enabled: Boolean = ratio > 0
    def due(appended: Long, baseline: Long): Boolean =
      enabled && appended >= math.max(minDocs, (ratio * baseline).toLong)
  }

  /** Mutable trigger bookkeeping for one loop run: O(1) per wave (no
    * state scans — the wave report's own counts feed `appended`);
    * one exact count per fired compaction resets the baseline. */
  private final class CompactionClock(policy: CompactionPolicy) {
    private var baseline = 0L
    private var appended = 0L
    def record(n: Long): Boolean = { appended += n; policy.due(appended, baseline) }
    def reset(newBaseline: Long): Unit = { baseline = newBaseline; appended = 0L }
  }

  /** Benchmark-decontamination gate model: the eval set's sorted
    * gram digests BUNDLED with the gram size that produced them — a
    * digest array probed at a different `nWords` matches nothing
    * (silently disarming the gate, the dangerous direction), so the
    * pair is unrepresentable apart. Build with [[evalGate]]. */
  final case class EvalGate(digests: Array[Long], nWords: Int)

  /** Build an [[EvalGate]] from an eval/benchmark frame's text. */
  def evalGate(evalSet: DataFrame, textCol: Column,
      nWords: Int = 13): EvalGate =
    EvalGate(graft.streaming.StreamOps.evalGramDigests(evalSet, textCol,
      nWords), nWords)

  /** THE gate definition — one row-local predicate that [[ingestWave]]
    * and [[batchEquivalent]] filter on and the wave's single audit
    * aggregation counts (guide §1.2: don't pay a full pass per counter),
    * so the counted set and the filtered set cannot drift.
    * The decontamination component is
    * [[graft.streaming.StreamOps.decontaminatePredicate]], the same
    * definition `decontaminateStream` filters on. */
  private def gatePredicate(cfg: GraftConfig,
      gate: Option[EvalGate]): Column = {
    val lengthOk =
      length(col("text")).between(cfg.minTextLength, cfg.maxTextLength)
    gate match {
      case Some(g) => lengthOk && graft.streaming.StreamOps
        .decontaminatePredicate(col("text"), g.digests, g.nWords)
      case None => lengthOk
    }
  }

  /** One-pass wave audit: total rows, tombstone survivors, and (when
    * `gatePred` is given) gate survivors among the live rows. The
    * tombstone table is distinct by construction (`writeTombstones`/
    * `appendTombstones`), so the broadcast left join marks each wave
    * row at most once and `__tomb IS NULL` counts exactly the rows
    * [[operators.Incremental.retractIds]]' left_anti would keep (null
    * ids match nothing on either path). */
  private def waveAuditCounts(wave: DataFrame, tombs: DataFrame,
      gatePred: Option[Column]): (Long, Long, Long) = {
    val marked = wave.join(
      broadcast(tombs.select(col("retract_id")).withColumn("__tomb", lit(true))),
      wave("doc_id") === col("retract_id"), "left")
    val liveOk = col("__tomb").isNull
    val r = marked.agg(
      count(lit(1)),
      count(when(liveOk, 1)),
      count(when(liveOk && gatePred.getOrElse(lit(true)), 1))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Label the Spark jobs of one loop phase (guide §1.5) — job
    * descriptions are thread-local, so this works inside
    * [[operators.Actions.par2]] branches too. */
  private def labeled[T](spark: SparkSession, tag: String)(f: => T): T = {
    spark.sparkContext.setJobDescription(tag)
    try f finally spark.sparkContext.setJobDescription(null)
  }

  /** Fresh state: empty bucketed digest/signature/tombstone tables
    * (the same specs every append preserves) and a clean gold dir. */
  def initState(spark: SparkSession, ns: String, dir: String,
      numBuckets: Int = 8): IngestState = {
    val st = IngestState(ns, dir, numBuckets)
    resetLoop(spark, dir, Seq(st.digestTable, st.sigTable), st.tombTable,
      numBuckets)
    val empty = spark.range(0)
      .select(col("id").as("doc_id"), lit("empty seed").as("text"))
    Incremental.writeDigestTable(empty, col("text"),
      st.digestTable, s"$dir/digests_v0", numBuckets)
    Incremental.writeBandedSignatures(empty, "doc_id", col("text"),
      st.sigTable, s"$dir/sigs_v0", numBuckets)
    st
  }

  /** One wave through the loop. `waveNo` labels the gold partition.
    * `evalGate` ([[evalGate]]) arms the benchmark-decontamination
    * gate: docs sharing an `nWords`-gram with the eval set never
    * reach dedup, gold OR state — the text loop's analog of the media blocklist, map-side
    * in one referenced-array expression. Like blocked media, a gated
    * doc cannot suppress its near-duplicates (it was never seen). */
  def ingestWave(spark: SparkSession, st: IngestState, wave: DataFrame,
      waveNo: Int, cfg: GraftConfig = GraftConfig(),
      evalGate: Option[EvalGate] = None): WaveReport = {
    val tombs = spark.table(st.tombTable)

    // takedown first: a retracted id can never re-enter through a
    // re-crawl (broadcast anti — the tombstone table is request-sized)
    val live = Incremental.retractIds(wave, "doc_id", tombs)

    // map-side gates before any shuffle work (length bounds + the
    // optional decontamination membership filter — both row-local)
    val gated = live.filter(gatePredicate(cfg, evalGate))

    // exact: keep-lowest-id within the wave, then drop anything whose
    // normalized digest the corpus has EVER seen (state side
    // bucket-aligned; only the wave shuffles). Materialized eagerly —
    // it feeds the fuzzy stage, two state appends, and the report.
    // lazy local checkpoint + count: the count action itself
    // materializes the checkpoint blocks, so the materialize-then-
    // count pair costs ONE job instead of two (the next consumer
    // reads the blocks either way)
    val exact = Incremental.exactDedupAgainstTable(
        Dedup.keepBestWindow(gated,
          graft.functions.text.norm_key(col("text")), Seq(col("doc_id").asc)),
        col("text"), spark.table(st.digestTable))
      .localCheckpoint(eager = false)
    // all three audit counts in ONE wave pass (they used to be one
    // full scan each), overlapped with the exact-stage materialization
    // — the two scans are independent, so the audit hides inside the
    // heavier dedup wall (guide §2.6)
    val ((incoming, nLive, nGated), nExact) = operators.Actions.par2(
      waveAuditCounts(wave, tombs, Some(gatePredicate(cfg, evalGate))),
      exact.count())

    // fuzzy: against-state and in-wave drops computed over the SAME
    // input and unioned (never chained) — the seen-not-kept contract
    val stateDups = Incremental.fuzzyDupIds(exact, "doc_id", col("text"),
        spark.table(st.sigTable), cfg.fuzzyThreshold,
        numPerm = 128, bands = 32, shingleSize = 3)
      .select(col("doc_id")).distinct()
    val accepted = Dedup.minhashDedup(exact, "doc_id", col("text"),
        threshold = cfg.fuzzyThreshold)
      .join(stateDups, Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = false)
    val nAccepted = accepted.count()

    // state grows by the wave's FUZZY-STAGE INPUT (exact survivors),
    // not by the accepted set — see the equivalence contract above.
    // The two state appends write DIFFERENT tables from the same
    // materialized exact blocks and run concurrently: the loop is
    // at-least-once (a crashed wave re-runs and re-appends), and both
    // state tables tolerate the duplicate rows a re-run can leave in
    // ANY landing order (digests feed an anti-join, signature dup ids
    // collapse behind `.distinct()`), so no ordering between them was
    // ever load-bearing. State-before-GOLD stays strict below.
    operators.Actions.inParallel(Seq(
      () => Incremental.appendDigests(exact, col("text"), st.digestTable,
        st.numBuckets),
      () => Incremental.appendBandedSignatures(exact, "doc_id", col("text"),
        st.sigTable, st.numBuckets)))

    // gold append + per-wave release manifest. An all-duplicate wave
    // appends nothing — but an empty Append still CREATES the gold
    // dir (committer setup + _SUCCESS), so presence must be judged by
    // data files, not the directory, or schema inference throws on
    // the next read.
    accepted.withColumn("ingest_wave", lit(waveNo))
      .write.mode(SaveMode.Append).partitionBy("ingest_wave")
      .parquet(st.goldPath)
    val goldHas = goldHasData(spark, st.goldPath)
    var goldTotal = 0L
    // audit count and manifest overwrite both read the just-appended
    // gold and are mutually independent — overlapped
    if (goldHas) operators.Actions.inParallel(Seq(
      () => goldTotal = spark.read.parquet(st.goldPath).count(),
      () => sources.CorpusIO.releaseManifest(spark, st.goldPath, "ingest_wave")
        .write.mode(SaveMode.Overwrite).parquet(st.manifestPath)))

    WaveReport(waveNo, incoming, nLive, nGated, nExact, nAccepted, goldTotal)
  }


  /** Fresh start shared by the three init functions: drop `tables`,
    * seed an empty tombstone table, wipe every gold version, the legacy
    * unversioned dir and the pointer, then point at `gold_v0` (where the
    * first wave appends). */
  private def resetLoop(spark: SparkSession, dir: String,
      tables: Seq[String], tombTable: String, numBuckets: Int): Unit = {
    (tables :+ tombTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Incremental.writeTombstones(spark.range(0).select(col("id").as("doc_id")),
      "doc_id", tombTable, s"$dir/tombstones", numBuckets)
    val fs = fsFor(spark, dir)
    Option(fs.globStatus(new Path(s"$dir/gold_v*")))
      .toSeq.flatten.foreach(st => fs.delete(st.getPath, true))
    fs.delete(new Path(s"$dir/gold"), true)
    fs.delete(new Path(s"$dir/_GOLD_CURRENT"), false)
    writeGoldPointer(spark, dir, "gold_v0")
  }

  /** Does the partitioned gold dir hold any actual parquet data?
    * (`fs.exists` is NOT enough: an empty append or an
    * everything-retracted rewrite leaves a dir with only _SUCCESS,
    * and reading it fails schema inference.) */
  private def goldHasData(spark: SparkSession, goldPath: String): Boolean = {
    val fs = fsFor(spark, goldPath)
    fs.exists(new Path(goldPath)) &&
      Option(fs.globStatus(new Path(s"$goldPath/*/*.parquet"))).exists(_.nonEmpty)
  }

  /** Retract `ids` (a one-column frame of doc_ids): append tombstones,
    * rewrite gold blue/green without them, compact the id-carrying
    * signature state, and compact the content-keyed digest state by
    * the retracted documents' own keys (recomputed from gold text
    * BEFORE the rewrite). Returns the bumped state (new table
    * versions — consumers repoint atomically, the q137 cutover). */
  def applyTakedown(spark: SparkSession, st: IngestState,
      ids: DataFrame): IngestState = {
    // digest keys of the retracted docs, from their retained gold
    // text (computed FIRST — it reads gold, which the rewrite below
    // replaces). A takedown BEFORE any gold exists (tombstone seeding
    // — the CLI's GRAFT_TAKEDOWN-before-waves shape) retracts no
    // content, so the key set is empty.
    val hadGold = goldHasData(spark, st.goldPath)
    val retractKeys =
      if (hadGold)
        Incremental.digestKeys(
            spark.read.parquet(st.goldPath).join(
              broadcast(ids.select(col(ids.columns.head).as("doc_id"))),
              Seq("doc_id")),
            col("text"))
          .distinct().localCheckpoint(true)
      else spark.range(0).select(col("id").as("__d1"), col("id").as("__d2"))

    val next = st.copy(version = st.version + 1,
      digestVersion = st.digestVersion + 1,
      goldVersion = st.goldVersion + (if (hadGold) 1 else 0))
    Incremental.appendTombstones(ids, ids.columns.head,
      spark.table(st.tombTable), st.tombTable, st.numBuckets)
    Incremental.compactState(spark.table(st.sigTable), "doc_id",
      spark.table(st.tombTable), next.sigTable,
      s"${st.dir}/sigs_v${next.version}",
      bucketCols = Seq("band", "bucket"), numBuckets = st.numBuckets)
    sources.CorpusIO.writeBucketed(
      spark.table(st.digestTable)
        .join(retractKeys, Seq("__d1", "__d2"), "left_anti"),
      next.digestTable, Seq("__d1", "__d2"), st.numBuckets,
      path = Some(s"${st.dir}/digests_v${next.digestVersion}"))

    // gold blue/green: write retained rows beside, then swap dirs.
    // Skipped when no gold data exists; manifest only when data
    // REMAINS (a retract-everything takedown leaves an empty dir a
    // manifest read could not infer a schema from).
    if (hadGold) {
      rewriteGoldRetained(spark, st.dir, st.goldPath, next.goldPath,
        st.goldVersion, st.tombTable)
      if (goldHasData(spark, next.goldPath))
        sources.CorpusIO.releaseManifest(spark, next.goldPath, "ingest_wave")
          .write.mode(SaveMode.Overwrite).parquet(st.manifestPath)
      else
        fsFor(spark, st.dir).delete(new Path(st.manifestPath), true)
    }
    next
  }

  /** Gold rewrite shared by every loop's takedown — VERSIONED
    * blue/green, the state tables' pattern applied to the directory:
    * retained rows land in a fresh `gold_v{n+1}`, the `_GOLD_CURRENT`
    * pointer repoints, and only then does the n−1 version (two
    * behind) get reclaimed. A concurrent reader therefore always has
    * a COMPLETE directory to read: mid-scan readers of `gold_v{n}`
    * keep their files (it survives this takedown), and a reader
    * resolving in the pointer-swap instant falls back to the highest
    * `_SUCCESS`-bearing version ([[currentGoldPath]]) — old or new,
    * never nothing. A crash mid-write leaves `gold_v{n+1}` without
    * `_SUCCESS` and the pointer on `gold_v{n}`: the next takedown
    * overwrites the partial dir. */
  private def rewriteGoldRetained(spark: SparkSession, dir: String,
      goldPath: String, nextGoldPath: String, prevVersion: Int,
      tombTable: String): Unit = {
    val fs = fsFor(spark, dir)
    Incremental.retractIds(spark.read.parquet(goldPath), "doc_id",
        spark.table(tombTable))
      .write.mode(SaveMode.Overwrite) // clobber a crashed prior attempt
      .partitionBy("ingest_wave").parquet(nextGoldPath)
    writeGoldPointer(spark, dir,
      nextGoldPath.substring(nextGoldPath.lastIndexOf('/') + 1))
    // reclaim the version that fell off the retention window (one per
    // cycle — raising the knob simply stops reclaims until the window
    // refills); with the default 2 that is current + previous
    val reclaim = prevVersion - (goldRetain(spark) - 1)
    if (reclaim >= 0) fs.delete(new Path(s"$dir/gold_v$reclaim"), true)
  }

  /** How many gold versions survive each takedown rewrite — current
    * plus `retain − 1` predecessors, so a reader PINNING a resolved
    * gold path keeps a complete directory across `retain − 1`
    * takedown cycles (the registered residual was a reader losing its
    * pin across two). `spark.graft.gold.retain` (or
    * `GRAFT_GOLD_RETAIN`), floor 2: current + previous is the
    * crash-window minimum [[currentGoldPath]] depends on. */
  private def goldRetain(spark: SparkSession): Int =
    math.max(2, spark.conf.getOption("spark.graft.gold.retain")
      .orElse(sys.env.get("GRAFT_GOLD_RETAIN"))
      .flatMap(_.toIntOption).getOrElse(2))

  /** Repoint `_GOLD_CURRENT` at `name` (tmp-write + rename — the only
    * non-atomic instant is the pointer FILE swap, which
    * [[currentGoldPath]]'s fallback covers). */
  private def writeGoldPointer(spark: SparkSession, dir: String,
      name: String): Unit = {
    val fs = fsFor(spark, dir)
    val tmp = new Path(s"$dir/_GOLD_CURRENT.tmp")
    val cur = new Path(s"$dir/_GOLD_CURRENT")
    val os = fs.create(tmp, true)
    try os.write(name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    fs.delete(cur, false)
    fs.rename(tmp, cur)
  }

  /** Resolve a loop dir's CURRENT gold directory — the entry point
    * for out-of-process readers (the in-process loops carry the
    * version in their state). Resolution order: the `_GOLD_CURRENT`
    * pointer when it names an existing dir; else the highest
    * `gold_v*` whose write COMPLETED (top-level `_SUCCESS` — a crash
    * mid-rewrite must not surface a partial copy); else the legacy
    * unversioned `gold`. A reader calling this at ANY instant of a
    * takedown gets a complete old or new copy, never an absent dir. */
  def currentGoldPath(spark: SparkSession, dir: String): String = {
    val fs = fsFor(spark, dir)
    val ptr = new Path(s"$dir/_GOLD_CURRENT")
    val pointed =
      if (fs.exists(ptr)) {
        val in = fs.open(ptr)
        val name =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        Some(s"$dir/$name").filter(p => fs.exists(new Path(p)))
      } else None
    pointed.getOrElse {
      val versions = Option(fs.globStatus(new Path(s"$dir/gold_v*")))
        .toSeq.flatten
        .filter(st => st.isDirectory && fs.exists(new Path(st.getPath, "_SUCCESS")))
        .map(_.getPath.getName)
        .flatMap(n => n.stripPrefix("gold_v").toIntOption.map(_ -> n))
        .sortBy(_._1)
      versions.lastOption.map { case (_, n) => s"$dir/$n" }
        .getOrElse(s"$dir/gold")
    }
  }

  /** Duplicate-signature compaction epilogues — the blue/green bump
    * for each loop's signature state ([[CompactionPolicy]] decides
    * WHEN; these are safe at any time: probe decisions provably
    * unchanged, see the Incremental scaladocs). The text epilogue
    * compacts BOTH text states (banded MinHash rows by (band, bucket,
    * sig); the bare digest table by DISTINCT) — honestly, the text
    * loop's own exact gate already stops identical re-appends (only
    * exact SURVIVORS reach either table), so it bites mainly for
    * out-of-loop `appendBandedSignatures` callers; in the Hamming loops
    * recrawl accretion is structural (every decoded admitted signature
    * is appended, so a recrawled item adds a row per sighting).
    * Returns the bumped state — consumers repoint as after a takedown. */
  def compactTextSigs(spark: SparkSession, st: IngestState): IngestState = {
    val next = st.copy(version = st.version + 1,
      digestVersion = st.digestVersion + 1)
    Incremental.dedupCompactBandedState(spark.table(st.sigTable), "doc_id",
      next.sigTable, s"${st.dir}/sigs_v${next.version}", st.numBuckets)
    Incremental.dedupCompactDigestState(spark.table(st.digestTable),
      next.digestTable, s"${st.dir}/digests_v${next.digestVersion}",
      st.numBuckets)
    next
  }

  /** Rebuild the content-keyed digest state from RETAINED GOLD — the
    * mechanized form of [[applyTakedown]]'s documented residual: a
    * retracted document that never reached gold (dropped as a
    * duplicate) leaves its digest behind, because takedown can only
    * recompute keys from text it still holds; content byte-equal to
    * that document then stays rejected forever even after every copy
    * was retracted. One [[Incremental.writeDigestTable]] pass over
    * gold text (corpus-sized, at the operator's own cadence — the
    * same blue/green versioning as takedown compaction, digest table
    * only; the id-carrying signature state needs no rebuild, its
    * compaction is already complete). Run it after takedowns whose
    * content must become re-admittable, or periodically. */
  def rebuildDigestState(spark: SparkSession, st: IngestState): IngestState = {
    val next = st.copy(digestVersion = st.digestVersion + 1)
    val gold =
      if (goldHasData(spark, st.goldPath)) spark.read.parquet(st.goldPath)
      else spark.range(0).select(col("id").as("doc_id"), lit("empty").as("text"))
    Incremental.writeDigestTable(gold, col("text"), next.digestTable,
      s"${st.dir}/digests_v${next.digestVersion}", st.numBuckets)
    next
  }

  /** The from-scratch batch pipeline the wave loop must equal over the
    * union of its waves: gate → keep-lowest-id exact dedup → banded
    * MinHash near-dup dedup (same thresholds, same signatures). */
  def batchEquivalent(corpus: DataFrame,
      cfg: GraftConfig = GraftConfig(),
      evalGate: Option[EvalGate] = None): DataFrame = {
    val gated = corpus.filter(gatePredicate(cfg, evalGate))
    val exact = Dedup.keepBestWindow(gated,
      graft.functions.text.norm_key(col("text")), Seq(col("doc_id").asc))
    Dedup.minhashDedup(exact, "doc_id", col("text"),
      threshold = cfg.fuzzyThreshold)
  }

  // --------------------------------------------------------------
  // The HAMMING wave loop, for payloads that reduce to 64-bit
  // perceptual signatures: decode → optional blocklist gate → in-wave
  // near-dup keep-lowest-id → probe against the persisted state →
  // append state (seen-not-kept) → gold append. Two state layouts
  // ([[HammingLayout]]): MEDIA ([[MediaState]], `hsigs_v*`), one
  // signature per item — images by default, audio via
  // Audio.audioSignatures; VIDEO ([[VideoState]], `fsigs_v*`, q147's
  // layout), a clip is its per-sampled-position frame signatures and
  // two clips match when ≥ minFrames positions are within budget. The
  // video blocklist is CROSS-MODAL: frames share the image dHash
  // identity, so a flagged IMAGE signature blocks every clip with a
  // sampled frame within budget of it.
  //
  // Equivalence contract (IngestSpec): with waves arriving in id
  // order, gold after any number of waves IS [[batchMediaEquivalent]]
  // / [[batchVideoEquivalent]] over the union — unconditionally, since
  // pigeonhole banding enumerates pairs EXACTLY. Undecodable payloads
  // pass (nothing provable) and never enter state; blocked payloads
  // never enter gold OR state.
  //
  // 100 TB shape: decode is the wave-sized mapPartitions scan
  // (`everyNth` is the video knob), the blocklist rides map-side in
  // codegen, the probe shuffles only the wave's banded signatures
  // (state bucket-aligned, plan-asserted in IncrementalSpec), appends
  // are wave-sized bucketed writes; no prior media bytes are re-read.
  // --------------------------------------------------------------

  /** What the Hamming loop reads off [[MediaState]]/[[VideoState]];
    * `bumped` is the blue/green version step (gold too on a rewrite). */
  private[graft] sealed trait HammingState[S <: HammingState[S]] {
    def ns: String
    def dir: String
    def numBuckets: Int
    def maxHamming: Int
    def version: Int
    def goldVersion: Int
    private[graft] def stem: String
    private[graft] def bumped(gold: Boolean): S
    def sigTable: String = s"${ns}_${stem}_v$version"
    def tombTable: String = s"${ns}_tombstones"
    def goldPath: String = s"$dir/gold_v$goldVersion"
    private[graft] def sigPath: String = s"$dir/${stem}_v$version"
  }
  private type AnyHammingState = HammingState[_]

  final case class MediaState(ns: String, dir: String, numBuckets: Int,
      maxHamming: Int, version: Int = 0, goldVersion: Int = 0)
      extends HammingState[MediaState] {
    private[graft] def stem = "hsigs"
    private[graft] def bumped(gold: Boolean): MediaState = copy(
      version = version + 1, goldVersion = goldVersion + (if (gold) 1 else 0))
  }

  /** `(maxHamming, minFrames, everyNth)` fix the match contract and
    * sampling grid for life (a stride change renumbers positions). */
  final case class VideoState(ns: String, dir: String, numBuckets: Int,
      maxHamming: Int, minFrames: Int, everyNth: Int, version: Int = 0,
      goldVersion: Int = 0) extends HammingState[VideoState] {
    private[graft] def stem = "fsigs"
    private[graft] def bumped(gold: Boolean): VideoState = copy(
      version = version + 1, goldVersion = goldVersion + (if (gold) 1 else 0))
  }

  final case class MediaWaveReport(wave: Int, incoming: Long, live: Long,
      decoded: Long, blocked: Long, accepted: Long, goldTotal: Long)

  /** Declared signer identities — the contract strings the state
    * `_meta` row is signed with ([[Incremental.signerTag]]). Two
    * states are signature-comparable iff their names match; every
    * write/append/probe in the loop below declares one, so a
    * wrong-modality signer (the classic rebuild mistake) refuses
    * loudly instead of writing incomparable signatures. */
  val ImageSignerName = "image-dhash64-v1"
  val AudioSignerName = "audio-ehash64-v1"
  val VideoSignerName = "video-frame-dhash64-v1"

  /** A wave's signatures past the blocklist: `rows` (decoded, admitted)
    * feed every dedup and state step; `decodeCounts` is the decode job —
    * decoded items, and blocked items as a function of live ones;
    * `keep` narrows a payload frame to admitted items not in `dropIds`. */
  private final case class Screen(rows: DataFrame,
      decodeCounts: () => (Long, Long => Long),
      keep: (DataFrame, DataFrame) => DataFrame)

  /** The one decision the media and video loops differ on — the state
    * layout — as the calls each step makes. `tag`/`decodeStep` name the
    * wave's jobs (`<tag> wave N: <step>`); `sig`/`decoded` are the signed
    * rows' signature and decoded-row test; `callerSigner` marks a
    * caller-chosen signer, which rebuild guards; `pairs` are in-wave
    * `(id_a < id_b)` near-duplicates; `retract` is remap-aware (a
    * retracted representative re-elects its min surviving twin). */
  private final case class HammingLayout(tag: String, decodeStep: String,
      signerName: String, sig: Column, decoded: Column, callerSigner: Boolean,
      sign: DataFrame => DataFrame,
      screen: (DataFrame, Option[Dedup.HammingIndex]) => Screen,
      pairs: (DataFrame, Int) => DataFrame,
      probe: (DataFrame, AnyHammingState) => DataFrame,
      write: (DataFrame, AnyHammingState) => Unit,
      append: (DataFrame, AnyHammingState) => Unit,
      retract: (SparkSession, AnyHammingState, AnyHammingState) => Unit,
      compact: (DataFrame, AnyHammingState, Option[DataFrame]) => Unit)

  /** The media layout: one `(doc_id, decoded, sig)` row per item, null
    * sig when undecodable. The signer must emit EXACTLY ONE row per doc
    * (every stock signer does), or the REPORT's row arithmetic skews
    * (the id-keyed gold stays correct). */
  private def flat(signer: DataFrame => DataFrame = defaultImageSigner,
      signerName: String = ImageSignerName): HammingLayout = {
    val signed = Some(signerName)
    HammingLayout("media", "decode + counts", signerName, col("sig"),
      col("decoded"), callerSigner = true,
      sign = signer(_).select(col("doc_id"), col("decoded"), col("sig")),
      screen = (sigs, blocklist) => {
        // exact, codegen'd, no join; null sigs pass (undecodable is
        // unprovable). Row-local, so the decoded and admitted counts
        // fold into one aggregation.
        val admittedPred = blocklist.fold(lit(true))(idx =>
          col("sig").isNull || !Dedup.hammingNearSet(col("sig"), idx))
        val admitted = sigs.filter(admittedPred)
        val decodeCounts = () => {
          val r = sigs.agg(count(when(col("decoded"), 1)),
            count(when(admittedPred, 1))).head()
          (r.getLong(0), (nLive: Long) => nLive - r.getLong(1))
        }
        Screen(admitted.filter(col("decoded")), decodeCounts,
          (payload, dropIds) => payload.join(admitted.select("doc_id")
            .join(dropIds, Seq("doc_id"), "left_anti"), Seq("doc_id"), "left_semi"))
      },
      pairs = Dedup.hammingNearDupPairs(_, "doc_id", "sig", _),
      probe = (rows, st) => Incremental.hammingDupIdsAgainstTable(rows,
        "doc_id", "sig", rows.sparkSession.table(st.sigTable), st.maxHamming,
        signer = signed),
      write = (rows, st) => Incremental.writeHammingState(rows, "doc_id",
        "sig", st.sigTable, st.sigPath, st.maxHamming, st.numBuckets,
        signer = signed),
      append = (rows, st) => Incremental.appendHammingState(rows, "doc_id",
        "sig", st.sigTable, st.maxHamming, st.numBuckets, signer = signed),
      retract = (spark, st, next) => Incremental.retractBandedHammingIds(
        spark, st.sigTable, next.sigTable, next.sigPath,
        spark.table(st.tombTable), st.numBuckets),
      compact = (state, next, prior) => Incremental.dedupCompactBandedState(
        state, "doc_id", next.sigTable, next.sigPath, next.numBuckets,
        priorRemap = prior))
  }

  /** The video layout: one `(doc_id, frame_pos, dhash)` row per sampled
    * frame, none for an undecodable clip; ANY blocklisted frame blocks
    * its clip. */
  private def positional(minFrames: Int, everyNth: Int): HammingLayout = {
    val signed = Some(VideoSignerName)
    HammingLayout("video", "decode + count", VideoSignerName, col("dhash"),
      lit(true), callerSigner = false,
      sign = operators.Video.frameSignatures(_, "doc_id", col("content"), everyNth),
      screen = (sigs, blocklist) => {
        // map-side codegen per frame row, one tiny distinct; no
        // blocklist ⇒ no blocked ids, no job spent proving it
        val blockedIds = blocklist match {
          case Some(idx) =>
            sigs.filter(Dedup.hammingNearSet(col("dhash"), idx))
              .select("doc_id").distinct().localCheckpoint(eager = false)
          case None => sigs.sparkSession.range(0).select(col("id").as("doc_id"))
        }
        Screen(sigs.join(blockedIds, Seq("doc_id"), "left_anti"),
          () => (sigs.select("doc_id").distinct().count(),
            _ => if (blocklist.isDefined) blockedIds.count() else 0L),
          (payload, dropIds) => payload
            .join(blockedIds, Seq("doc_id"), "left_anti")
            .join(dropIds, Seq("doc_id"), "left_anti"))
      },
      pairs = operators.Video.clipNearDupPairs(_, "doc_id", _, minFrames),
      probe = (rows, st) => Incremental.frameHammingDupIdsAgainstTable(rows,
        "doc_id", "dhash", rows.sparkSession.table(st.sigTable),
        st.maxHamming, minFrames, everyNth = everyNth, signer = signed),
      write = (rows, st) => Incremental.writeFrameHammingState(rows,
        "doc_id", "dhash", st.sigTable, st.sigPath, st.maxHamming,
        st.numBuckets, everyNth = everyNth, signer = signed),
      append = (rows, st) => Incremental.appendFrameHammingState(rows,
        "doc_id", "dhash", st.sigTable, st.maxHamming, st.numBuckets,
        everyNth = everyNth, signer = signed),
      retract = (spark, st, next) => Incremental.retractFrameHammingIds(
        spark, st.sigTable, next.sigTable, next.sigPath,
        spark.table(st.tombTable), st.numBuckets),
      compact = (state, next, prior) => Incremental.dedupCompactFrameState(
        state, "doc_id", next.sigTable, next.sigPath, next.numBuckets,
        priorRemap = prior))
  }

  /** No signature rows, in `layout`'s own schema: init and rebuild seed
    * with it, so their writers cannot split the bucketBy layout. */
  private def emptySigs(spark: SparkSession, layout: HammingLayout) =
    layout.sign(spark.range(0).select(col("id").as("doc_id"),
      lit(null).cast("binary").as("content")))

  /** Fresh media state: empty bucketed Hamming-signature and tombstone
    * tables, clean gold dir. `maxHamming` fixes the band layout for
    * the state's whole life (every append and probe uses it). */
  def initMediaState(spark: SparkSession, ns: String, dir: String,
      maxHamming: Int = 8, numBuckets: Int = 8,
      signerName: String = ImageSignerName): MediaState =
    initHamming(spark, flat(signerName = signerName),
      MediaState(ns, dir, numBuckets, maxHamming))

  /** Fresh video state (see [[VideoState]]). */
  def initVideoState(spark: SparkSession, ns: String, dir: String,
      maxHamming: Int = 8, minFrames: Int = 2, everyNth: Int = 2,
      numBuckets: Int = 8): VideoState =
    initHamming(spark, positional(minFrames, everyNth),
      VideoState(ns, dir, numBuckets, maxHamming, minFrames, everyNth))

  private def initHamming[S <: HammingState[S]](spark: SparkSession,
      layout: HammingLayout, st: S): S = {
    resetLoop(spark, st.dir, Seq(st.sigTable), st.tombTable, st.numBuckets)
    layout.write(emptySigs(spark, layout), st)
    st
  }

  /** One media wave. `wave` needs (doc_id, content binary); extra
    * columns ride to gold. `signer` emits one `(doc_id, decoded, sig)`
    * row per doc ([[flat]]) — the image dHash by default; pass the audio
    * eHash or a SimHash the same way. `blocklist` (flagged-content
    * enforcement) gates EXACTLY, map-side, before any dedup work. */
  def ingestMediaWave(spark: SparkSession, st: MediaState, wave: DataFrame,
      waveNo: Int,
      signer: DataFrame => DataFrame = defaultImageSigner,
      blocklist: Option[Dedup.HammingIndex] = None,
      signerName: String = ImageSignerName): MediaWaveReport =
    hammingWave(spark, flat(signer, signerName), st, wave, waveNo, blocklist)

  /** One video wave. `wave` needs (doc_id, content binary AVI); extra
    * columns ride to gold. `blocklist` = flagged IMAGE signatures. */
  def ingestVideoWave(spark: SparkSession, st: VideoState, wave: DataFrame,
      waveNo: Int,
      blocklist: Option[Dedup.HammingIndex] = None): MediaWaveReport =
    hammingWave(spark, positional(st.minFrames, st.everyNth), st, wave,
      waveNo, blocklist)

  private def hammingWave(spark: SparkSession, layout: HammingLayout,
      st: AnyHammingState, wave: DataFrame, waveNo: Int,
      blocklist: Option[Dedup.HammingIndex]): MediaWaveReport = {
    def step[T](name: String)(f: => T): T =
      labeled(spark, s"${layout.tag} wave $waveNo: $name")(f)
    val tombs = spark.table(st.tombTable)
    val live = Incremental.retractIds(wave, "doc_id", tombs)

    // decode once per wave (payload bytes never pass this scan); the
    // lazy checkpoint makes decode+materialize+counts ONE job
    val sigs = layout.sign(live).localCheckpoint(eager = false)
    val screen = layout.screen(sigs, blocklist)
    // the audit and the decode job are independent wave scans — run
    // concurrently, the cheap audit hides in the decode wall (§2.6)
    val ((incoming, nLive, _), (nDecoded, blockedOf)) = operators.Actions.par2(
      step("audit counts") { waveAuditCounts(wave, tombs, None) },
      step(layout.decodeStep) { screen.decodeCounts() })
    val nBlocked = blockedOf(nLive)

    // in-wave and against-state drops over the SAME screened rows,
    // unioned — the seen-not-kept contract, exactly as the text loop
    val dropIds = layout.pairs(screen.rows, st.maxHamming)
      .select(col("id_b").as("doc_id"))
      .union(layout.probe(screen.rows, st))
      .distinct().localCheckpoint(eager = false)
    // drop ids are admitted (never blocked) and wave ids are unique,
    // so |accepted| = |live| − |blocked| − |dropIds| with no second
    // content-carrying pass
    val nAccepted = nLive - nBlocked - step("drop ids") { dropIds.count() }

    // state grows by every decoded admitted signature (dropped or not),
    // strictly before gold
    step("state append") { layout.append(screen.rows, st) }
    step("gold append") {
      screen.keep(live, dropIds).withColumn("ingest_wave", lit(waveNo))
        .write.mode(SaveMode.Append).partitionBy("ingest_wave")
        .parquet(st.goldPath)
    }
    val goldTotal =
      if (goldHasData(spark, st.goldPath))
        step("gold count") { spark.read.parquet(st.goldPath).count() }
      else 0L
    MediaWaveReport(waveNo, incoming, nLive, nDecoded, nBlocked, nAccepted,
      goldTotal)
  }

  /** Media takedown: tombstones gate later waves, gold rewrites
    * blue/green without the ids, and the signature state drops the
    * ids' rows, so retracted media stop suppressing near-duplicates.
    * Signatures of items DROPPED as their duplicates stay
    * (seen-not-kept, the conservative direction) until
    * [[rebuildMediaState]]. */
  def applyMediaTakedown(spark: SparkSession, st: MediaState,
      ids: DataFrame): MediaState =
    hammingTakedown(spark, flat(), st, ids)

  /** [[applyMediaTakedown]] over the positional clip state. */
  def applyVideoTakedown(spark: SparkSession, st: VideoState,
      ids: DataFrame): VideoState =
    hammingTakedown(spark, positional(st.minFrames, st.everyNth), st, ids)

  private def hammingTakedown[S <: HammingState[S]](spark: SparkSession,
      layout: HammingLayout, st: S, ids: DataFrame): S = {
    val hadGold = goldHasData(spark, st.goldPath)
    val next = st.bumped(gold = hadGold)
    Incremental.appendTombstones(ids, ids.columns.head,
      spark.table(st.tombTable), st.tombTable, st.numBuckets)
    layout.retract(spark, st, next)
    if (hadGold)
      rewriteGoldRetained(spark, st.dir, st.goldPath, next.goldPath,
        st.goldVersion, st.tombTable)
    next
  }

  /** Rebuild the media Hamming state from RETAINED GOLD — the
    * seen-not-kept residual's fix ([[rebuildDigestState]]'s shape): a
    * signature dropped as a retracted item's duplicate otherwise
    * rejects near-copies of fully-retracted content forever. One
    * signer pass over gold content under a bumped state version;
    * chain-dropped signatures vanish, so wave ≡ batch equivalence
    * re-baselines here. The signer is REQUIRED (no image default): a
    * wrong-modality rebuild decodes nothing and would silently write an
    * empty state, disarming every later probe. */
  def rebuildMediaState(spark: SparkSession, st: MediaState,
      signer: DataFrame => DataFrame,
      signerName: String): MediaState =
    rebuildHamming(spark, flat(signer, signerName), st)

  /** [[rebuildMediaState]] for clips, on the state's own sampling grid. */
  def rebuildVideoState(spark: SparkSession, st: VideoState): VideoState =
    rebuildHamming(spark, positional(st.minFrames, st.everyNth), st)

  private def rebuildHamming[S <: HammingState[S]](spark: SparkSession,
      layout: HammingLayout, st: S): S = {
    val caller = s"rebuild${layout.tag.capitalize}State"
    // a wrong-but-decoding signer would write signatures every later
    // probe silently misses — refuse BEFORE the decode pass
    Incremental.requireSigner(spark.table(st.sigTable), layout.signerName,
      caller)
    val next = st.bumped(gold = false)
    val sigs =
      if (goldHasData(spark, st.goldPath)) {
        val out = layout.sign(spark.read.parquet(st.goldPath))
          .filter(layout.decoded)
        if (!layout.callerSigner) out
        else {
          val kept = out.localCheckpoint(true)
          if (kept.isEmpty)
            // legal (a quarantine-only gold decodes nothing) but almost
            // always a wrong-signer mistake — say so, loudly
            System.err.println(s"[graft] $caller: gold has rows but the " +
              "signer decoded NONE — wrong modality signer for " +
              s"${st.goldPath}? The rebuilt state suppresses nothing.")
          kept
        }
      } else emptySigs(spark, layout)
    layout.write(sigs, next)
    next
  }

  def compactMediaSigs(spark: SparkSession, st: MediaState): MediaState =
    compactHamming(spark, flat(), st)

  def compactVideoSigs(spark: SparkSession, st: VideoState): VideoState =
    compactHamming(spark, positional(st.minFrames, st.everyNth), st)

  private def compactHamming[S <: HammingState[S]](spark: SparkSession,
      layout: HammingLayout, st: S): S = {
    val next = st.bumped(gold = false)
    // carry the dropped-id → representative remap across versions so
    // a LATER takedown of a representative re-elects a surviving twin
    val prior = Some(s"${st.sigTable}_remap")
      .filter(spark.catalog.tableExists).map(spark.table)
    layout.compact(spark.table(st.sigTable), next, prior)
    next
  }

  /** The from-scratch media batch the wave loop must equal over the
    * union of its waves: sign → blocklist gate → keep every row not
    * within `maxHamming` of a LOWER-id decoded row (kept or dropped —
    * the chain shape is inherent to the id-ordered contract). */
  def batchMediaEquivalent(corpus: DataFrame, maxHamming: Int = 8,
      signer: DataFrame => DataFrame = defaultImageSigner,
      blocklist: Option[Dedup.HammingIndex] = None): DataFrame =
    hammingBatch(flat(signer), corpus, maxHamming, blocklist)

  /** [[batchMediaEquivalent]] for clips: a clip drops when it matches a
    * LOWER-id admitted decoded clip on ≥ `minFrames` sampled positions. */
  def batchVideoEquivalent(corpus: DataFrame, maxHamming: Int = 8,
      minFrames: Int = 2, everyNth: Int = 2,
      blocklist: Option[Dedup.HammingIndex] = None): DataFrame =
    hammingBatch(positional(minFrames, everyNth), corpus, maxHamming,
      blocklist)

  private def hammingBatch(layout: HammingLayout, corpus: DataFrame,
      maxHamming: Int, blocklist: Option[Dedup.HammingIndex]): DataFrame = {
    // its own blocklist and keep joins, not the wave's screen: this is
    // the reference the wave loop is checked against
    val sigs = layout.sign(corpus)
    val blocked = blocklist.map(idx => sigs.filter(layout.sig.isNotNull &&
      Dedup.hammingNearSet(layout.sig, idx)).select("doc_id").distinct())
    def unblocked(df: DataFrame) =
      blocked.fold(df)(df.join(_, Seq("doc_id"), "left_anti"))
    val dropIds = layout.pairs(unblocked(sigs.filter(layout.decoded)),
        maxHamming).select(col("id_b").as("doc_id")).distinct()
    unblocked(corpus).join(dropIds, Seq("doc_id"), "left_anti")
  }

  /** The stock image signer (dHash over decoded stills) — the default
    * for the per-wave calls, and the value to pass EXPLICITLY to
    * [[rebuildMediaState]] when the state is image-modality. */
  def defaultImageSigner(df: DataFrame): DataFrame =
    operators.Images.imageSignatures(df, "doc_id", col("content"))
      .select(col("doc_id"), col("decoded"), col("dhash").as("sig"))

  private def fsFor(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** The TEXT loop main drives — separated from session lifecycle so
    * IngestSpec exercises the exact CLI code path. */
  def runText(spark: SparkSession, dir: String, wavePaths: Seq[String],
      takedownPath: Option[String], cfg: GraftConfig,
      ns: String = "graft_ingest",
      evalPath: Option[String] = None,
      compaction: CompactionPolicy = CompactionPolicy(),
      driftCols: Seq[String] = Nil,
      driftTokens: Int = 0): Unit = {
    // digests built ONCE per run — benchmark-sized eval sets, the
    // evalGramDigests contract
    val gate = evalPath.map(p => evalGate(spark.read.parquet(p), col("text")))
    var st = initState(spark, ns, dir)
    takedownPath.foreach { p =>
      st = applyTakedown(spark, st, spark.read.parquet(p).select("doc_id"))
    }
    val clock = new CompactionClock(compaction)
    wavePaths.zipWithIndex.foreach { case (path, i) =>
      val wave = spark.read.parquet(path)
      // drift is measured BEFORE ingesting: the question is "does this
      // wave look like the corpus we promoted so far?"
      if (driftCols.nonEmpty || driftTokens > 0)
        waveDrift(spark, st, wave, driftCols, i, driftTokens)
      val r = ingestWave(spark, st, wave, i, cfg, gate)
      println(s"[ingest] wave=${r.wave} incoming=${r.incoming} " +
        s"live=${r.live} gated=${r.gated} exact=${r.exactSurvivors} " +
        s"accepted=${r.accepted} gold=${r.goldTotal}")
      if (clock.record(r.exactSurvivors)) {
        st = compactTextSigs(spark, st)
        clock.reset(spark.table(st.digestTable).count())
        println(s"[ingest] compacted signature state -> ${st.sigTable}")
      }
    }
  }

  /** PSI alarm threshold for the wave drift monitor — the standard
    * credit-scoring reading of PSI ([[graft.operators.Stats
    * .driftReport]]'s scaladoc): > 0.25 means the incoming
    * distribution has shifted materially against promoted gold. */
  val DriftAlarmPsi = 0.25

  /** Per-wave drift monitoring: PSI of the incoming wave against
    * CURRENT gold over the named bounded-cardinality columns
    * ([[graft.operators.Stats.driftReport]]), appended to the
    * `$dir/drift` parquet log with the wave number, feature totals
    * printed, alarms (> [[DriftAlarmPsi]]) flagged loudly. Monitoring
    * only — it never gates the wave (a drifted crawl may be exactly
    * the new data wanted; the operator decides, with the log as
    * evidence). Skipped while gold is empty (wave 0: nothing to
    * drift from — every share would be eps-floored noise). */
  def waveDrift(spark: SparkSession, st: IngestState, wave: DataFrame,
      featureCols: Seq[String], waveNo: Int,
      tokenK: Int = 0): Option[DataFrame] =
    waveDriftAt(spark, st.goldPath, st.dir, wave, featureCols, waveNo,
      tokenK, tag = "ingest")

  /** The modality-agnostic core of [[waveDrift]] — the PSI reports are
    * feature-column math, so the media and video loops monitor through
    * the SAME surface (`$dir/drift` log, [[DriftAlarmPsi]] alarm,
    * never gating): feature drift over whatever bounded-cardinality
    * wave columns the operator names (signature bands, width/duration
    * buckets, source tags — media extras ride to gold, so both sides
    * have them), token drift over extracted text WHERE PRESENT (a
    * media wave without a `text` column on both sides gets a loud
    * skip note, not a crash — transcripts/captions may arrive only on
    * some pipelines). */
  def waveDriftAt(spark: SparkSession, goldPath: String, dir: String,
      wave: DataFrame, featureCols: Seq[String], waveNo: Int,
      tokenK: Int = 0, tag: String = "ingest"): Option[DataFrame] = {
    if (!goldHasData(spark, goldPath)) return None
    val gold = spark.read.parquet(goldPath)
    val textBoth = gold.columns.contains("text") && wave.columns.contains("text")
    if (tokenK > 0 && !textBoth)
      println(s"[$tag] wave=$waveNo token drift skipped: no 'text' " +
        "column on both wave and gold (extracted transcripts/captions " +
        "are where token drift applies in a media loop)")
    // token-stream drift is opt-in (tokenK > 0): it explodes both
    // corpora once, the heavier monitor — its 'token' feature rows
    // union into the same log/alarm surface
    val parts = Seq(
      if (featureCols.nonEmpty)
        Some(operators.Stats.driftReport(gold, wave,
          featureCols.map(c => c -> col(c))))
      else None,
      if (tokenK > 0 && textBoth)
        Some(operators.Stats.tokenDrift(gold, wave, col("text"), tokenK))
      else None).flatten
    if (parts.isEmpty) return None
    val rep = parts.reduce(_ unionByName _)
      .withColumn("ingest_wave", lit(waveNo))
      .localCheckpoint(true)
    rep.write.mode(SaveMode.Append).parquet(s"$dir/drift")
    rep.select(col("feature"), col("feature_psi")).distinct()
      .collect().sortBy(_.getString(0)).foreach { r =>
        val alarm = if (r.getDouble(1) > DriftAlarmPsi) " ALARM" else ""
        println(f"[$tag] wave=$waveNo drift feature=${r.getString(0)} " +
          f"psi=${r.getDouble(1)}%.6f$alarm")
      }
    Some(rep)
  }

  /** The MEDIA loop (`GRAFT_MEDIA=image|audio`): decode → optional
    * exact codegen blocklist gate (`GRAFT_BLOCKLIST` = parquet of
    * 64-bit `sig`s — request-scale, the [[Dedup.hammingIndex]]
    * contract) → in-wave Hamming dedup → persisted-state probe →
    * seen-not-kept append → gold. An optional takedown
    * (`GRAFT_TAKEDOWN` = parquet of doc_ids) applies before the waves,
    * exactly like the text loop. Waves need `(doc_id, content
    * binary)`; extra columns ride to gold. */
  def runMedia(spark: SparkSession, dir: String, wavePaths: Seq[String],
      mode: String, blocklistPath: Option[String],
      takedownPath: Option[String], maxHamming: Int = 8,
      ns: String = "graft_ingest_media",
      compaction: CompactionPolicy = CompactionPolicy(),
      driftCols: Seq[String] = Nil, driftTokens: Int = 0): Unit = {
    val layout = mode match {
      case "image" => flat()
      case "audio" => flat((df: DataFrame) =>
        operators.Audio.audioSignatures(df, "doc_id", col("content"))
          .select(col("doc_id"), col("decoded"), col("ehash").as("sig")),
        AudioSignerName)
      case other => throw new IllegalArgumentException(
        s"GRAFT_MEDIA=$other (want image|audio — video routes through " +
          "runVideo and its positional state)")
    }
    runHamming(spark, layout, MediaState(ns, dir, 8, maxHamming), wavePaths,
      blocklistPath, takedownPath, compaction, driftCols, driftTokens)
  }

  /** The VIDEO loop (`GRAFT_MEDIA=video`): clip waves through the
    * positional Hamming state; `GRAFT_BLOCKLIST` = parquet of flagged
    * IMAGE `sig`s (cross-modal frame gate), `GRAFT_TAKEDOWN` seeds
    * tombstones, `GRAFT_MIN_FRAMES`/`GRAFT_EVERY_NTH` tune the match
    * contract / sampling grid. */
  def runVideo(spark: SparkSession, dir: String, wavePaths: Seq[String],
      blocklistPath: Option[String], takedownPath: Option[String],
      maxHamming: Int = 8, minFrames: Int = 2, everyNth: Int = 2,
      ns: String = "graft_ingest_video",
      compaction: CompactionPolicy = CompactionPolicy(),
      driftCols: Seq[String] = Nil, driftTokens: Int = 0): Unit =
    runHamming(spark, positional(minFrames, everyNth),
      VideoState(ns, dir, 8, maxHamming, minFrames, everyNth), wavePaths,
      blocklistPath, takedownPath, compaction, driftCols, driftTokens)

  /** The CLI loop of [[runMedia]]/[[runVideo]]: init, takedown seeding,
    * then per wave: drift monitor, ingest, report, compaction when due. */
  private def runHamming[S <: HammingState[S]](spark: SparkSession,
      layout: HammingLayout, fresh: S, wavePaths: Seq[String],
      blocklistPath: Option[String], takedownPath: Option[String],
      compaction: CompactionPolicy, driftCols: Seq[String],
      driftTokens: Int): Unit = {
    val tag = s"ingest-${layout.tag}"
    val blocklist = blocklistPath.map(p =>
      Dedup.hammingIndex(spark.read.parquet(p), "sig", fresh.maxHamming))
    var st = initHamming(spark, layout, fresh)
    takedownPath.foreach(p => st = hammingTakedown(spark, layout, st,
      spark.read.parquet(p).select("doc_id")))
    val clock = new CompactionClock(compaction)
    wavePaths.zipWithIndex.foreach { case (path, i) =>
      val wave = spark.read.parquet(path)
      // drift BEFORE ingesting, as the text loop: "does this wave look
      // like the corpus we promoted so far?"
      if (driftCols.nonEmpty || driftTokens > 0)
        waveDriftAt(spark, st.goldPath, st.dir, wave, driftCols, i,
          driftTokens, tag = tag)
      val r = hammingWave(spark, layout, st, wave, i, blocklist)
      println(s"[$tag] wave=${r.wave} incoming=${r.incoming} " +
        s"live=${r.live} decoded=${r.decoded} blocked=${r.blocked} " +
        s"accepted=${r.accepted} gold=${r.goldTotal}")
      if (clock.record(r.decoded)) {
        st = compactHamming(spark, layout, st)
        clock.reset(spark.table(st.sigTable)
          .select("doc_id").distinct().count())
        println(s"[$tag] compacted signature state -> ${st.sigTable}")
      }
    }
  }

  /** The CLUSTER loop (`GRAFT_CLUSTERS=1`): text waves through the
    * incremental near-dup cluster state ([[graft.operators.Incremental
    * .writeClusterState]]/`appendClusters`) — the first wave
    * initializes, later waves join/found/bridge; each wave prints its
    * assignment count plus the cluster-stats audit row over resolved
    * membership. `GRAFT_TAKEDOWN` applies AFTER the waves (unlike the
    * tombstone loops: cluster takedown is a state REWRITE over
    * already-ingested docs, so a pre-wave takedown on empty state
    * would be a no-op) and retracts SPLIT-CORRECTLY — by default via
    * [[graft.operators.Incremental.takedownClusters]] into the `_v1`
    * tables (the corpus-sized blue/green rewrite); with `patch = true`
    * (`GRAFT_TAKEDOWN_PATCH=1`) via [[graft.operators.Incremental
    * .patchTakedownClusters]] — the O(affected) overlay, compacted
    * into `_v1` only when [[graft.operators.Incremental
    * .clusterPatchLoad]] exceeds `patchCompactLoad`. `GRAFT_GRAM_N` /
    * `GRAFT_JACCARD` tune the edge contract — fixed for the state's
    * life (a gram-size change re-keys every posting, the
    * re-shingling rule). */
  def runClusters(spark: SparkSession, dir: String, wavePaths: Seq[String],
      takedownPath: Option[String], n: Int = 4, threshold: Double = 0.4,
      ns: String = "graft_ingest_clusters", patch: Boolean = false,
      patchCompactLoad: Double = 0.3, winnow: Boolean = false): Unit = {
    def tabs(v: Int) = operators.Incremental.ClusterTables(
      s"${ns}_post_v$v", s"$dir/post_v$v",
      s"${ns}_member_v$v", s"$dir/member_v$v",
      s"${ns}_alias_v$v", s"$dir/alias_v$v",
      s"${ns}_edges_v$v", s"$dir/edges_v$v")
    val t0 = tabs(0)
    Seq(tabs(0), tabs(1)).foreach(x => Seq(x.postTable, x.memberTable,
      x.aliasTable, x.edgeTable)
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb")))
    def audit(tag: String, t: operators.Incremental.ClusterTables): Unit = {
      val s = graft.operators.DupClusters.clusterStats(
        operators.Incremental.resolveClusters(spark, t)).head()
      println(s"[$tag] clusters=${s.getAs[Long]("clusters")} " +
        s"vertices=${s.getAs[Long]("vertices")} " +
        s"in_dup_clusters=${s.getAs[Long]("vertices_in_dup_clusters")} " +
        s"largest=${s.getAs[Long]("largest_cluster")} " +
        s"removable=${s.getAs[Long]("removable")}")
    }
    wavePaths.zipWithIndex.foreach { case (path, i) =>
      val wave = spark.read.parquet(path)
      if (i == 0) {
        if (winnow)
          operators.Incremental.writeWinnowClusterState(wave, "doc_id",
            col("text"), t0)
        else operators.Incremental.writeClusterState(wave, "doc_id",
          col("text"), n, threshold, t0)
        println(s"[ingest-clusters] wave=0 initialized " +
          s"docs=${wave.count()} enumerator=" +
          (if (winnow) "winnow" else "gram"))
      } else {
        val a =
          if (winnow) operators.Incremental.appendWinnowClusters(wave,
            "doc_id", col("text"), t0)
          else operators.Incremental.appendClusters(wave, "doc_id",
            col("text"), n, threshold, t0)
        println(s"[ingest-clusters] wave=$i assigned=${a.count()}")
      }
      audit(s"ingest-clusters wave=$i", t0)
    }
    takedownPath.foreach { p =>
      val rid = spark.read.parquet(p).select("doc_id")
      if (patch) {
        operators.Incremental.patchTakedownClusters(spark, rid, t0)
        val load = operators.Incremental.clusterPatchLoad(spark, t0)
        println(f"[ingest-clusters] takedown patched in place " +
          f"(overlay load=$load%.4f)")
        audit("ingest-clusters takedown", t0)
        if (load > patchCompactLoad) {
          val t1 = tabs(1)
          operators.Incremental.compactClusterPatches(spark, t0, t1)
          println(s"[ingest-clusters] patch ledger compacted -> " +
            s"${t1.memberTable}")
          audit("ingest-clusters compacted", t1)
        }
      } else {
        val t1 = tabs(1)
        operators.Incremental.takedownClusters(spark, rid, t0, t1)
        println(s"[ingest-clusters] takedown -> ${t1.memberTable}")
        audit("ingest-clusters takedown", t1)
      }
    }
  }

  /** The FETCH loop (`GRAFT_FETCH=<urls.parquet>`): the reference's
    * ingestion manager (drivers fetch → raw bytes land in bronze,
    * pipeline/ingestion/manager.py:17-47) as one resumable CLI pass —
    * the work list anti-joins the ledger at `$dir/ledger` (ok rows
    * never refetched, failures retried), the harvest runs
    * host-partitioned with the policy's backoff, and every `ok` row
    * projects into an S13-shaped bronze at `$dir/bronze`
    * (url, content bytes, sha-256 content id, size). Bronze is a
    * DERIVED projection of the ledger, so the overwrite is idempotent
    * across re-runs and crashes — the ledger is the source of truth.
    * Transport: `file:` URLs by default (zero-egress CI, local
    * mirrors); `GRAFT_FETCH_HTTP=1` selects [[graft.sources.Fetch
    * .HttpTransport]] (4xx terminal, 408/429/5xx/timeout retried).
    * Returns the ledger for composition. */
  def runFetch(spark: SparkSession, dir: String, urlsPath: String,
      http: Boolean = false, maxAttempts: Int = 3,
      minGapMs: Long = 0L, recrawl: Boolean = false,
      respectRobots: Boolean = false,
      extractHtml: Boolean = false): DataFrame = {
    val transport: graft.sources.Fetch.FetchTransport =
      if (http) new graft.sources.Fetch.HttpTransport()
      else graft.sources.Fetch.FileTransport
    val policy = graft.sources.Fetch.FetchPolicy(
      maxAttempts = maxAttempts, minGapMs = minGapMs,
      respectRobots = respectRobots)
    // recrawl waves refetch EVERYTHING conditionally (ETag /
    // Last-Modified validators from the latest ok rows; 304 appends a
    // bytes-free row) — the normal wave only fetches what the ledger
    // hasn't succeeded on
    val ledger =
      if (recrawl) graft.sources.Fetch.recrawlResumable(spark,
        spark.read.parquet(urlsPath), "url", s"$dir/ledger", transport,
        policy)
      else graft.sources.Fetch.harvestResumable(spark,
        spark.read.parquet(urlsPath), "url", s"$dir/ledger", transport,
        policy)
    // bronze = CURRENT content per url: the newest ok row, with
    // not_modified winners re-attached to the wave that carried the
    // bytes (resolveLatest) — a plain status filter would emit
    // byte-less rows after a 304-heavy recrawl
    val current = graft.sources.Fetch.resolveLatest(ledger)
    current.select(col("url"), col("content"),
        col("content_sha256").as("content_id"), col("n_bytes"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/bronze")
    val nOk = current.count()
    val nFail = ledger.filter(col("status") === "failed").count()
    val nDenied = ledger.filter(col("status") === "denied").count()
    // hosts whose robots Crawl-delay exceeded FetchPolicy.maxGapMs —
    // they were crawled at the clamped gap, not the asked-for one
    val nClampedHosts = ledger.filter(col("gap_clamped"))
      .select("host").distinct().count()
    println(s"[fetch] bronzeUrls=$nOk failedRows=$nFail " +
      s"deniedRows=$nDenied clampedHosts=$nClampedHosts bronze=$dir/bronze")
    // GRAFT_FETCH_EXTRACT=html: derive silver text from bronze in the
    // same pass — UTF-8 decode, block-scored main-content extraction
    // (chrome/link farms dropped), url canonicalized for downstream
    // identity. Like bronze, a DERIVED overwrite: bronze bytes stay
    // the source of truth and re-runs are idempotent. Pages whose
    // every block is chrome extract empty and are kept OUT of silver
    // (they carry no trainable text), but remain in bronze.
    if (extractHtml) {
      val silver = current.select(
          graft.functions.web.canonical_url(col("url")).as("url"),
          col("content_sha256").as("content_id"),
          graft.functions.web.html_main_text(
            decode(col("content"), "UTF-8")).as("text"))
        .filter(col("text") =!= "")
      silver.write.mode(SaveMode.Overwrite).parquet(s"$dir/silver_text")
      val nSilver = spark.read.parquet(s"$dir/silver_text").count()
      println(s"[fetch] silverTextRows=$nSilver " +
        s"emptyExtracts=${nOk - nSilver} silver=$dir/silver_text")
    }
    ledger
  }

  /** The WARC loop (`GRAFT_WARC=<warcDir>`): archived-crawl
    * containers → trainable silver text in one pass. Every ok HTTP
    * 200 response record lands as a row: url canonicalized, content
    * id = sha-256 of the body bytes, text = block-scored main content
    * for HTML payloads ([[graft.functions.web.html_main_text]]) and
    * the plain decoded body otherwise — no entity/tag processing is
    * applied to non-HTML text. Chrome-only pages (empty extraction)
    * are excluded, like the fetch loop's silver. Derived overwrite,
    * idempotent across re-runs. */
  def runWarc(spark: SparkSession, dir: String, warcDir: String): Unit = {
    val rows = graft.sources.Warc.readWarcDir(spark, warcDir).toDF()
      .filter(col("warc_type") === "response" && col("warc_ok") &&
        col("http_status") === 200)
    val isHtml = lower(coalesce(col("http_content_type"), lit("")))
      .contains("html")
    // charset from the Content-Type parameter; UTF-8 when absent or
    // exotic. Spark's `decode` takes a LITERAL charset from a fixed
    // whitelist, so the dispatch is a native `when` chain over the
    // charsets that cover real crawls (windows-1252 is decoded as its
    // ISO-8859-1 superset-by-structure — the 0x80-0x9F printables
    // land as C1 controls; documented approximation, never mojibake
    // of ASCII). Unknown charsets fall back to UTF-8 rather than
    // dropping the row — the quality gates downstream own the call.
    val cs = lower(regexp_extract(
      coalesce(col("http_content_type"), lit("")),
      "charset=\\s*\"?([A-Za-z0-9_.:-]+)", 1))
    val decoded =
      when(cs === "iso-8859-1" || cs === "latin1" || cs === "latin-1" ||
          cs === "windows-1252" || cs === "cp1252",
        decode(col("body"), "ISO-8859-1"))
      .when(cs === "us-ascii" || cs === "ascii",
        decode(col("body"), "US-ASCII"))
      .otherwise(decode(col("body"), "UTF-8"))
    val silver = rows.select(
        graft.functions.web.canonical_url(col("target_uri")).as("url"),
        sha2(col("body"), 256).as("content_id"),
        when(isHtml, graft.functions.web.html_main_text(decoded))
          .otherwise(decoded).as("text"))
      .filter(col("text") =!= "")
    silver.write.mode(SaveMode.Overwrite).parquet(s"$dir/silver_text")
    val n = spark.read.parquet(s"$dir/silver_text").count()
    val nRec = rows.count()
    println(s"[warc] responses=$nRec silverTextRows=$n " +
      s"silver=$dir/silver_text")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 ||
      (sys.env.contains("GRAFT_FETCH") && args.length >= 1),
      "usage: IngestCli <stateDir> <wave1.parquet> [wave2.parquet ...] " +
        "(GRAFT_FETCH=<urls.parquet> runs the resumable harvest loop " +
        "into <stateDir>/ledger + bronze — no wave args; " +
        "GRAFT_FETCH_HTTP=1 selects the java.net.http transport, " +
        "GRAFT_FETCH_RECRAWL=1 refetches everything conditionally " +
        "(ETag/If-None-Match — 304 keeps prior bytes), " +
        "GRAFT_FETCH_ROBOTS=1 arms robots.txt gating + Crawl-delay, " +
        "GRAFT_FETCH_EXTRACT=html derives silver_text from bronze " +
        "(block-scored HTML main-content extraction, canonical urls); " +
        "GRAFT_WARC=<warcDir> scans archived-crawl WARC containers " +
        "into silver_text instead of fetching; " +
        "GRAFT_MEDIA=image|audio|video selects the media loop; " +
        "GRAFT_BLOCKLIST/GRAFT_TAKEDOWN/GRAFT_EVAL name parquet " +
        "inputs — GRAFT_EVAL arms the text loop's benchmark-" +
        "decontamination gate; GRAFT_DRIFT=col1,col2 arms the per-wave " +
        "PSI monitor against gold in EVERY loop — text, media, video " +
        "(GRAFT_DRIFT_TOKENS=k adds the token-stream monitor over the " +
        "top-k gold vocabulary, applied where a text column exists on " +
        "both sides); GRAFT_CLUSTERS=1 " +
        "selects the incremental cluster loop (GRAFT_GRAM_N/" +
        "GRAFT_JACCARD tune the edge contract, GRAFT_CLUSTER_WINNOW=1 " +
        "swaps in the df-capped winnow-fingerprint enumerator, " +
        "GRAFT_TAKEDOWN applies after the waves, split-correctly); " +
        "GRAFT_NS " +
        "sets the state-table namespace — mode-suffixed, so concurrent " +
        "loops on one metastore never collide)")
    val dir = args(0)
    val spark = GraftSession.get(
      s"local[${Runtime.getRuntime.availableProcessors()}]")
    val maxHamming = sys.env.get("GRAFT_MAX_HAMMING").map(_.toInt).getOrElse(8)
    // GRAFT_NS is mode-SUFFIXED: every state family names its
    // tombstone table "${ns}_tombstones", so one raw namespace shared
    // across modes would collide (a media init dropping the text
    // loop's seeded tombstones — silent re-entry of retracted docs).
    // Suffixing keeps same-value-different-mode runs isolated;
    // distinct values isolate same-mode loops.
    def ns(mode: String, default: String): String =
      sys.env.get("GRAFT_NS").map(n => s"${n}_$mode").getOrElse(default)
    // GRAFT_EVAL is a TEXT-loop knob; make setting it alongside a
    // media mode a loud no-op instead of a silent one
    if (sys.env.contains("GRAFT_EVAL") && sys.env.contains("GRAFT_MEDIA"))
      System.err.println("[graft] GRAFT_EVAL is ignored by the media/" +
        "video loops (text-gram decontamination) — gate captions/" +
        "transcripts through the text loop, or flag media signatures " +
        "via GRAFT_BLOCKLIST")
    if (sys.env.contains("GRAFT_CLUSTERS") && sys.env.contains("GRAFT_MEDIA"))
      System.err.println("[graft] GRAFT_CLUSTERS is a text-corpus loop " +
        "(word-gram Jaccard edges) — it is ignored when GRAFT_MEDIA " +
        "selects a media loop; cluster media by signature through the " +
        "Hamming states instead")
    sys.env.get("GRAFT_WARC").foreach { warcDir =>
      runWarc(spark, dir, warcDir)
      spark.stop()
      return
    }
    sys.env.get("GRAFT_FETCH").foreach { urlsPath =>
      runFetch(spark, dir, urlsPath,
        http = sys.env.get("GRAFT_FETCH_HTTP").contains("1"),
        maxAttempts =
          sys.env.get("GRAFT_FETCH_ATTEMPTS").map(_.toInt).getOrElse(3),
        minGapMs =
          sys.env.get("GRAFT_FETCH_GAP_MS").map(_.toLong).getOrElse(0L),
        recrawl = sys.env.get("GRAFT_FETCH_RECRAWL").contains("1"),
        respectRobots = sys.env.get("GRAFT_FETCH_ROBOTS").contains("1"),
        extractHtml = sys.env.get("GRAFT_FETCH_EXTRACT").contains("html"))
      spark.stop()
      return
    }
    if (sys.env.contains("GRAFT_CLUSTERS") && !sys.env.contains("GRAFT_MEDIA")) {
      runClusters(spark, dir, args.drop(1).toSeq,
        sys.env.get("GRAFT_TAKEDOWN"),
        sys.env.get("GRAFT_GRAM_N").map(_.toInt).getOrElse(4),
        sys.env.get("GRAFT_JACCARD").map(_.toDouble).getOrElse(0.4),
        ns("clusters", "graft_ingest_clusters"),
        patch = sys.env.get("GRAFT_TAKEDOWN_PATCH").contains("1"),
        winnow = sys.env.get("GRAFT_CLUSTER_WINNOW").contains("1"))
      spark.stop()
      return
    }
    val driftCols = sys.env.get("GRAFT_DRIFT").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val driftTokens =
      sys.env.get("GRAFT_DRIFT_TOKENS").map(_.toInt).getOrElse(0)
    sys.env.get("GRAFT_MEDIA") match {
      case Some("video") =>
        runVideo(spark, dir, args.drop(1).toSeq,
          sys.env.get("GRAFT_BLOCKLIST"), sys.env.get("GRAFT_TAKEDOWN"),
          maxHamming,
          sys.env.get("GRAFT_MIN_FRAMES").map(_.toInt).getOrElse(2),
          sys.env.get("GRAFT_EVERY_NTH").map(_.toInt).getOrElse(2),
          ns("video", "graft_ingest_video"),
          driftCols = driftCols, driftTokens = driftTokens)
      case Some(mode) =>
        runMedia(spark, dir, args.drop(1).toSeq, mode,
          sys.env.get("GRAFT_BLOCKLIST"), sys.env.get("GRAFT_TAKEDOWN"),
          maxHamming, ns(mode, "graft_ingest_media"),
          driftCols = driftCols, driftTokens = driftTokens)
      case None =>
        runText(spark, dir, args.drop(1).toSeq,
          sys.env.get("GRAFT_TAKEDOWN"), GraftConfig.fromEnv(),
          ns("text", "graft_ingest"), sys.env.get("GRAFT_EVAL"),
          driftCols = driftCols, driftTokens = driftTokens)
    }
    spark.stop()
  }
}
