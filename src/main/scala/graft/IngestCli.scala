package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Incremental}

/** Recurring-ingestion driver — the WAVE loop the incremental state
  * families exist for, composed the way [[CurationCli]] composes the
  * batch gates. Each arriving batch (a crawl snapshot, a CDC pull —
  * the reference's watermark cursor, `oracle_connector.py:95-169`) runs
  * ONE loop, whatever the payload:
  *
  *   takedown enforcement (tombstoned ids never enter) →
  *   screen (the layout's gates, dedup stages and signing, materialized
  *     once) → in-wave near-dup pairs (keep-lowest-id) ∪ probe against
  *     the persisted signature state → state append (SEEN-not-kept) →
  *   gold append (partitioned by wave) [→ release manifest].
  *
  * The body ([[waveLoop]]), takedown ([[takedownLoop]]), compaction
  * ([[compactLoop]]) and CLI loop ([[runLoop]]) are shared; a private
  * [[WaveLayout]] supplies each step. Streams run the same wave once
  * per micro-batch ([[graft.streaming.StreamOps.foreachWave]]). Four
  * layouts:
  *   - TEXT ([[IngestState]]): length + optional decontamination gate →
  *     exact dedup (in-wave keep-lowest-id + anti-join against the
  *     digest state) → ONE MinHash signing of the survivors, feeding the
  *     banded pairs, the banded-signature probe and its append; keeps the
  *     release manifest;
  *   - IMAGE and AUDIO ([[MediaState]], `hsigs_v*`): one 64-bit
  *     perceptual signature per item, optional exact blocklist gate;
  *   - VIDEO ([[VideoState]], `fsigs_v*`, q147's layout): a clip is its
  *     per-sampled-position frame signatures; two clips match when
  *     ≥ minFrames positions are within budget. Its blocklist is
  *     CROSS-MODAL: a flagged IMAGE signature blocks every clip with a
  *     sampled frame within budget of it.
  *
  * '''Equivalence contract''' (IngestSpec): with waves arriving in id
  * order (the CDC watermark shape), gold after any number of waves IS
  * the from-scratch batch over their union — [[batchEquivalent]] (given
  * healthy LSH buckets, ≤ maxBucketSize), [[batchMediaEquivalent]] /
  * [[batchVideoEquivalent]] (unconditionally: pigeonhole banding
  * enumerates pairs EXACTLY). Two details make that hold:
  *   - state appends every row that REACHED the pair stage, dropped or
  *     not — batch dedup drops a doc similar to ANY lower-id doc, even
  *     a dropped one (the round-5 chain a~b~c), so a survivors-only
  *     state would silently keep c;
  *   - in-wave and against-state drops are computed over the SAME
  *     screened rows and unioned, never chained, so a doc dropped by the
  *     probe still serves as an in-wave mate.
  * Gated docs never enter gold OR state (they cannot suppress
  * near-duplicates); undecodable payloads pass and never enter state.
  *
  * '''Takedown''': tombstones append (enforced at the top of every
  * later wave), the signature state retracts remap-aware, gold rewrites
  * blue/green minus the ids; text also drops the retracted documents'
  * OWN digest keys (recomputed from gold text before the rewrite).
  * Retraction removes content, not history: documents dropped as a
  * retracted document's duplicates stay dropped until a rebuild from
  * retained gold ([[rebuildDigestState]], [[rebuildMediaState]]).
  *
  * '''Scale shape''' (the recurring 100 TB question): a wave pays
  * wave-sized costs only — one signing/decode scan, probes that shuffle
  * the batch side alone (state arrives bucket-aligned, plan-asserted in
  * IncrementalSpec), batch-sized bucketed appends, a gold append that
  * touches no prior wave; takedowns are tombstone-broadcast +
  * state-sized rewrites at the operator's own cadence. Nothing in the
  * loop re-reads previously ingested text or media bytes.
  *
  * Usage:
  *   runMain graft.IngestCli <stateDir> <wave1.parquet> [wave2 ...]
  * with GRAFT_TAKEDOWN optionally naming a parquet of doc_ids to
  * retract before the waves run. Text waves need (doc_id, text, ...),
  * media waves (doc_id, content, ...); extra columns ride to gold.
  */
object IngestCli {

  final case class IngestState(ns: String, dir: String, numBuckets: Int,
      version: Int = 0, digestVersion: Int = 0, goldVersion: Int = 0)
      extends WaveState[IngestState] {
    def digestTable: String = s"${ns}_digests_v$digestVersion"
    def sigTable: String = s"${ns}_sigs_v$version"
    def manifestPath: String = s"$dir/manifest"
    private[graft] def digestPath: String = s"$dir/digests_v$digestVersion"
    private[graft] def sigPath: String = s"$dir/sigs_v$version"
    private[graft] def tables: Seq[String] = Seq(digestTable, sigTable)
    private[graft] def bumped(gold: Boolean): IngestState = copy(
      version = version + 1, digestVersion = digestVersion + 1,
      goldVersion = goldVersion + (if (gold) 1 else 0))
  }

  final case class WaveReport(wave: Int, incoming: Long, live: Long,
      gated: Long, exactSurvivors: Long, accepted: Long, goldTotal: Long)

  /** Cadence policy for the duplicate-signature compaction epilogue
    * the run* loops apply ([[Incremental.dedupCompactBandedState]] /
    * [[Incremental.compactFrameHammingDuplicates]] — decision-preserving by
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

  /** THE gate definition — one row-local predicate that the text layout
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

  // ---- The shared wave loop. It names no family parameter (fuzzy
  // threshold, Hamming budget, frame grid, gate): the layouts carry them.

  /** What the loop reads off a family's state: names, paths, and the
    * blue/green version step (`bumped`; gold too on a takedown rewrite). */
  private[graft] sealed trait WaveState[S <: WaveState[S]] {
    def ns: String
    def dir: String
    def numBuckets: Int
    def goldVersion: Int
    def sigTable: String
    def tombTable: String = s"${ns}_tombstones"
    def goldPath: String = s"$dir/gold_v$goldVersion"
    /** Every state table the family owns (init drops them). */
    private[graft] def tables: Seq[String]
    private[graft] def bumped(gold: Boolean): S
  }

  /** A wave's rows past the layout's gates, materialized: `rows` feed the
    * pairs, the probe and the state append; `counts` is the job that
    * materializes them and returns the layout's two report counts;
    * `keep` turns the drop ids into the rows gold receives. */
  private final case class Screen(rows: DataFrame, counts: () => (Long, Long),
      keep: DataFrame => DataFrame)

  /** What one pass of the loop observed. `gated` counts the live rows
    * passing the layout's row-local `gate`; `counts` are its screen's;
    * `accepted` is the rows the gold append wrote. */
  private final case class Tally(wave: Int, incoming: Long, live: Long,
      gated: Long, counts: (Long, Long), accepted: Long, goldTotal: Long)

  /** A family's steps, as the calls the loop makes. `tag`/`countStep`
    * name the wave's jobs (`<tag> wave N: <step>`); `gate` is a
    * row-local predicate the audit counts; `dupIds` are the in-wave
    * single-column drop ids among the screened rows (the higher id of
    * each near-duplicate pair), `probe` theirs against the persisted
    * state; `retract` gets the state before and after the bump plus the
    * retracted ids; `compact` gets the prior `_remap` sidecar;
    * `manifest` marks layouts that keep a release manifest; `line` and
    * `stateDocs` are the CLI loop's report line and compaction baseline. */
  private final case class WaveLayout[S <: WaveState[S]](tag: String,
      countStep: String, gate: Option[Column], manifest: Boolean,
      init: (SparkSession, S) => Unit,
      screen: (DataFrame, S) => Screen,
      dupIds: (DataFrame, S) => DataFrame,
      probe: (DataFrame, S) => DataFrame,
      append: (DataFrame, S) => Unit,
      retract: (SparkSession, S, S, DataFrame) => Unit,
      compact: (SparkSession, S, S, Option[DataFrame]) => Unit,
      line: Tally => String,
      stateDocs: (SparkSession, S) => Long)

  /** Fresh state: drop the family's tables, seed an empty tombstone
    * table, wipe every gold version, the legacy unversioned dir and the
    * pointer, point at `gold_v0` (where the first wave appends), then
    * let the layout write its empty state (the same bucket specs every
    * append preserves). */
  private def initLoop[S <: WaveState[S]](spark: SparkSession,
      layout: WaveLayout[S], st: S): S = {
    (st.tables :+ st.tombTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Incremental.writeTombstones(spark.range(0).select(col("id").as("doc_id")),
      "doc_id", st.tombTable, s"${st.dir}/tombstones", st.numBuckets)
    val fs = fsFor(spark, st.dir)
    Option(fs.globStatus(new Path(s"${st.dir}/gold_v*")))
      .toSeq.flatten.foreach(g => fs.delete(g.getPath, true))
    fs.delete(new Path(s"${st.dir}/gold"), true)
    fs.delete(new Path(s"${st.dir}/_GOLD_CURRENT"), false)
    writeGoldPointer(spark, st.dir, "gold_v0")
    layout.init(spark, st)
    st
  }

  /** One wave through the loop; `waveNo` labels the gold partition. */
  private def waveLoop[S <: WaveState[S]](spark: SparkSession,
      layout: WaveLayout[S], st: S, wave: DataFrame, waveNo: Int): Tally = {
    def step[T](name: String)(f: => T): T =
      labeled(spark, s"${layout.tag} wave $waveNo: $name")(f)
    val tombs = spark.table(st.tombTable)
    // takedown first: a retracted id can never re-enter through a
    // re-crawl (broadcast anti — the tombstone table is request-sized)
    val live = Incremental.retractIds(wave, "doc_id", tombs)
    val screen = layout.screen(live, st)
    // the audit and the screen's materializing job are independent
    // wave scans — run concurrently, the cheap audit hides in the
    // heavier screen wall (guide §2.6)
    val ((incoming, nLive, nGated), counts) = operators.Actions.par2(
      step("audit counts") { waveAuditCounts(wave, tombs, layout.gate) },
      step(layout.countStep) { screen.counts() })

    // in-wave and against-state drops over the SAME screened rows,
    // unioned (never chained) — the seen-not-kept contract. Eager: the
    // probe must read the state BEFORE this wave's append lands in it.
    val dropIds = step("drop ids") {
      layout.dupIds(screen.rows, st)
        .union(layout.probe(screen.rows, st))
        .distinct().localCheckpoint(eager = true)
    }

    // state grows by every screened row (dropped or not), strictly
    // before gold, so gold never holds a row the state lacks. A re-run
    // of a wave whose state append landed is NOT at-least-once: the
    // probe finds the wave's own rows in state and drops them, so rows
    // that had not reached gold never do, and rows no probe can judge
    // (undecodable media) reach gold again. Every state table tolerates
    // the duplicate rows a re-run leaves
    step("state append") { layout.append(screen.rows, st) }
    // `accepted` is observed on the gold write itself. An all-duplicate
    // wave appends nothing — but an empty Append still CREATES the gold
    // dir (committer setup + _SUCCESS), so presence is judged by data
    // files, not the directory, or schema inference throws on the next
    // read.
    val written = Observation()
    step("gold append") {
      screen.keep(dropIds).withColumn("ingest_wave", lit(waveNo))
        .observe(written, count(lit(1)).as("n"))
        .write.mode(SaveMode.Append).partitionBy("ingest_wave")
        .parquet(st.goldPath)
    }
    val accepted = written.get("n").asInstanceOf[Long]
    // the audit count and the manifest overwrite both read the
    // just-appended gold and are mutually independent — overlapped
    val goldTotal =
      if (!goldHasData(spark, st.goldPath)) 0L
      else step("gold count") {
        def total = spark.read.parquet(st.goldPath).count()
        if (layout.manifest)
          operators.Actions.par2(total, writeManifest(spark, st.goldPath, st.dir))._1
        else total
      }
    Tally(waveNo, incoming, nLive, nGated, counts, accepted, goldTotal)
  }

  /** Retract `ids` (a one-column frame of doc_ids): append tombstones,
    * retract them from the layout's state into bumped tables (state
    * before gold), rewrite gold blue/green without them. Returns the
    * bumped state (new table versions — consumers repoint atomically,
    * the q137 cutover). A takedown BEFORE any gold exists (tombstone
    * seeding — the CLI's GRAFT_TAKEDOWN-before-waves shape) rewrites no
    * gold. */
  private def takedownLoop[S <: WaveState[S]](spark: SparkSession,
      layout: WaveLayout[S], st: S, ids: DataFrame): S = {
    val hadGold = goldHasData(spark, st.goldPath)
    val next = st.bumped(gold = hadGold)
    Incremental.appendTombstones(ids, ids.columns.head,
      spark.table(st.tombTable), st.tombTable, st.numBuckets)
    layout.retract(spark, st, next, ids)
    if (hadGold) {
      rewriteGoldRetained(spark, st.dir, st.goldPath, next.goldPath,
        st.goldVersion, st.tombTable)
      if (layout.manifest) writeManifest(spark, next.goldPath, st.dir)
    }
    next
  }

  /** Duplicate-signature compaction — the blue/green bump of the
    * layout's state ([[CompactionPolicy]] decides WHEN; it is safe at
    * any time: probe decisions provably unchanged, see the Incremental
    * scaladocs). Remap contract: each compaction writes a
    * dropped-id → representative `_remap` sidecar beside the new
    * signature table, composed with the PRIOR version's sidecar passed
    * in here, and every takedown retracts through it, so retracting a
    * representative re-elects its minimum surviving twin instead of
    * deleting the rows its collapsed twins still stand on. Returns the
    * bumped state — consumers repoint as after a takedown. */
  private def compactLoop[S <: WaveState[S]](spark: SparkSession,
      layout: WaveLayout[S], st: S): S = {
    val next = st.bumped(gold = false)
    layout.compact(spark, st, next, Incremental.priorRemap(spark, st.sigTable))
    next
  }

  /** The CLI loop of [[runText]], [[runMedia]] and [[runVideo]]: init,
    * takedown seeding, then per wave: drift monitor, ingest, report,
    * compaction when due. */
  private def runLoop[S <: WaveState[S]](spark: SparkSession,
      layout: WaveLayout[S], fresh: S, tag: String, wavePaths: Seq[String],
      takedownPath: Option[String], compaction: CompactionPolicy,
      driftCols: Seq[String], driftTokens: Int): Unit = {
    var st = initLoop(spark, layout, fresh)
    takedownPath.foreach(p => st = takedownLoop(spark, layout, st,
      spark.read.parquet(p).select("doc_id")))
    // compaction trigger bookkeeping: O(1) per wave (the tally's own
    // count feeds `appended`); one exact count per fired compaction
    // resets the baseline
    var (appended, baseline) = (0L, 0L)
    wavePaths.zipWithIndex.foreach { case (path, i) =>
      val wave = spark.read.parquet(path)
      // drift is measured BEFORE ingesting: the question is "does this
      // wave look like the corpus we promoted so far?"
      if (driftCols.nonEmpty || driftTokens > 0)
        waveDriftAt(spark, st.goldPath, st.dir, wave, driftCols, i,
          driftTokens, tag = tag)
      val t = waveLoop(spark, layout, st, wave, i)
      println(s"[$tag] wave=${t.wave} incoming=${t.incoming} " +
        s"live=${t.live} ${layout.line(t)} " +
        s"accepted=${t.accepted} gold=${t.goldTotal}")
      appended += t.counts._1
      if (compaction.due(appended, baseline)) {
        st = compactLoop(spark, layout, st)
        baseline = layout.stateDocs(spark, st)
        appended = 0L
        println(s"[$tag] compacted signature state -> ${st.sigTable}")
      }
    }
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

  /** Rewrite the release manifest of `goldPath` at `$dir/manifest`; when
    * no gold data REMAINS (a retract-everything takedown) remove it
    * instead — a manifest read could not infer a schema from the empty
    * dir. */
  private def writeManifest(spark: SparkSession, goldPath: String,
      dir: String): Unit =
    if (goldHasData(spark, goldPath))
      sources.CorpusIO.releaseManifest(spark, goldPath, "ingest_wave")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/manifest")
    else fsFor(spark, dir).delete(new Path(s"$dir/manifest"), true)

  /** The takedown's gold rewrite — VERSIONED
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

  // ---- The TEXT layout and its public surface.

  /** The text layout. Its MinHash contract — 128 slots over 3-word
    * shingles, 32 bands — is fixed for the state's life (the persisted
    * rows hash 4 slots per band); `cfg` supplies the gate and the fuzzy
    * threshold, `evalGate` arms the decontamination gate. */
  private def textLayout(cfg: GraftConfig = GraftConfig(),
      evalGate: Option[EvalGate] = None): WaveLayout[IngestState] = {
    val (numPerm, bands, shingleSize) = (128, 32, 3)
    val gate = gatePredicate(cfg, evalGate)
    WaveLayout[IngestState]("text", "exact + sign + count", Some(gate),
      manifest = true,
      init = (spark, st) => {
        val empty = spark.range(0)
          .select(col("id").as("doc_id"), lit("empty seed").as("text"))
        Incremental.writeDigestTable(empty, col("text"), st.digestTable,
          st.digestPath, st.numBuckets)
        Incremental.writeBandedSignatures(empty, "doc_id", col("text"),
          st.sigTable, st.sigPath, st.numBuckets, numPerm, bands, shingleSize)
      },
      screen = (live, st) => {
        // map-side gates first (length bounds + the optional
        // decontamination filter — both row-local); exact: keep the
        // lowest id within the wave, then drop anything whose normalized
        // digest the corpus has EVER seen (state side bucket-aligned;
        // only the wave shuffles); then the survivors' ONE MinHash
        // signing. The lazy local checkpoint is materialized by the
        // count itself, before pairs, probe or append read a signature.
        val rows = Incremental.exactDedupAgainstTable(
            Dedup.keepBestWindow(live.filter(gate),
              graft.functions.text.norm_key(col("text")), Seq(col("doc_id").asc)),
            col("text"), live.sparkSession.table(st.digestTable))
          .withColumn("__sig", Dedup.minhashSigCol(col("text"), numPerm,
            shingleSize))
          .localCheckpoint(eager = false)
        Screen(rows, () => (rows.count(), 0L),
          dropIds => rows.drop("__sig").join(dropIds, Seq("doc_id"), "left_anti"))
      },
      dupIds = (rows, _) => Dedup.candidatesFromSig(rows, "doc_id",
        cfg.fuzzyThreshold, numPerm, bands, maxBucketSize = 1024)
        .select(col("id_b").as("doc_id")),
      probe = (rows, st) => Incremental.fuzzyDupIdsFromSigs(rows, "doc_id",
        rows.sparkSession.table(st.sigTable), cfg.fuzzyThreshold, numPerm,
        bands),
      // two DIFFERENT tables from the same materialized rows, written
      // concurrently: both tolerate the duplicate rows a re-run can
      // leave in ANY landing order (digests feed an anti-join, signature
      // dup ids collapse behind `.distinct()`)
      append = (rows, st) => operators.Actions.inParallel(Seq(
        () => Incremental.appendDigests(rows, col("text"), st.digestTable,
          st.numBuckets),
        () => Incremental.writeBandedSigs(rows, "doc_id", st.sigTable,
          st.numBuckets, numPerm, bands))),
      retract = (spark, st, next, ids) => {
        // the retracted docs' digest keys, from their retained gold text,
        // read BEFORE the gold rewrite replaces it; none when no gold
        // exists (the bump then keeps the gold version)
        val keys =
          if (next.goldVersion == st.goldVersion)
            spark.range(0).select(col("id").as("__d1"), col("id").as("__d2"))
          else Incremental.digestKeys(
              spark.read.parquet(st.goldPath).join(
                broadcast(ids.select(col(ids.columns.head).as("doc_id"))),
                Seq("doc_id")),
              col("text"))
            .distinct().localCheckpoint(true)
        Incremental.retractBandedHammingIds(spark, st.sigTable, next.sigTable,
          next.sigPath, spark.table(st.tombTable), st.numBuckets)
        sources.CorpusIO.writeBucketed(
          spark.table(st.digestTable)
            .join(keys, Seq("__d1", "__d2"), "left_anti"),
          next.digestTable, Seq("__d1", "__d2"), st.numBuckets,
          path = Some(next.digestPath))
      },
      compact = (spark, st, next, prior) => {
        Incremental.dedupCompactBandedState(spark.table(st.sigTable), "doc_id",
          next.sigTable, next.sigPath, st.numBuckets, priorRemap = prior)
        Incremental.dedupCompactDigestState(spark.table(st.digestTable),
          next.digestTable, next.digestPath, st.numBuckets)
      },
      line = t => s"gated=${t.gated} exact=${t.counts._1}",
      stateDocs = (spark, st) => spark.table(st.digestTable).count())
  }

  /** Fresh text state: empty bucketed digest/signature/tombstone tables
    * and a clean gold dir. */
  def initState(spark: SparkSession, ns: String, dir: String,
      numBuckets: Int = 8): IngestState =
    initLoop(spark, textLayout(), IngestState(ns, dir, numBuckets))

  /** One text wave. `waveNo` labels the gold partition.
    * `evalGate` ([[evalGate]]) arms the benchmark-decontamination
    * gate: docs sharing an `nWords`-gram with the eval set never
    * reach dedup, gold OR state — the text loop's analog of the media
    * blocklist, map-side in one referenced-array expression. Like
    * blocked media, a gated doc cannot suppress its near-duplicates (it
    * was never seen). */
  def ingestWave(spark: SparkSession, st: IngestState, wave: DataFrame,
      waveNo: Int, cfg: GraftConfig = GraftConfig(),
      evalGate: Option[EvalGate] = None): WaveReport = {
    val t = waveLoop(spark, textLayout(cfg, evalGate), st, wave, waveNo)
    WaveReport(t.wave, t.incoming, t.live, t.gated, t.counts._1, t.accepted,
      t.goldTotal)
  }

  /** Text takedown ([[takedownLoop]]): the signature state retracts
    * remap-aware, the content-keyed digest state drops the retracted
    * documents' own keys, gold rewrites, the manifest follows. A
    * retracted doc that never reached gold (dropped as a dup) leaves its
    * digest behind — [[rebuildDigestState]] is the fix. */
  def applyTakedown(spark: SparkSession, st: IngestState,
      ids: DataFrame): IngestState =
    takedownLoop(spark, textLayout(), st, ids)

  /** [[compactLoop]] over both text states: banded MinHash rows by
    * (band, bucket, sig) with the remap sidecar; the bare digest table
    * by DISTINCT. */
  def compactTextSigs(spark: SparkSession, st: IngestState): IngestState =
    compactLoop(spark, textLayout(), st)

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
      next.digestPath, st.numBuckets)
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

  // ---- The HAMMING layouts, for payloads that reduce to 64-bit
  // perceptual signatures, and their public surface.

  /** What the Hamming layouts read off [[MediaState]]/[[VideoState]]. */
  private[graft] sealed trait HammingState[S <: HammingState[S]]
      extends WaveState[S] {
    def maxHamming: Int
    def version: Int
    private[graft] def stem: String
    def sigTable: String = s"${ns}_${stem}_v$version"
    private[graft] def sigPath: String = s"$dir/${stem}_v$version"
    private[graft] def tables: Seq[String] = Seq(sigTable)
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
    * write/append/probe in the layouts below declares one, so a
    * wrong-modality signer (the classic rebuild mistake) refuses
    * loudly instead of writing incomparable signatures. */
  val ImageSignerName = "image-dhash64-v1"
  val AudioSignerName = "audio-ehash64-v1"
  val VideoSignerName = "video-frame-dhash64-v1"

  /** The one decision the media and video layouts differ on — the state
    * layout — as the calls each step makes. `tag`/`decodeStep` name the
    * wave's jobs; `sig`/`decoded` are the signed rows' signature and
    * decoded-row test; `callerSigner` marks a caller-chosen signer,
    * which rebuild guards; `screen` gates a wave's payload rows given
    * their signatures and the blocklist, its counts are (decoded,
    * blocked); `dupIds` are the in-wave drop ids within a Hamming
    * budget (the higher id of each near-duplicate pair); `retract` is
    * remap-aware. The loop reads them through [[wave]]. */
  private final case class HammingLayout(tag: String, decodeStep: String,
      signerName: String, sig: Column, decoded: Column, callerSigner: Boolean,
      sign: DataFrame => DataFrame,
      screen: (DataFrame, DataFrame, Option[Dedup.HammingIndex]) => Screen,
      dupIds: (DataFrame, Int) => DataFrame,
      probe: (DataFrame, AnyHammingState) => DataFrame,
      write: (DataFrame, AnyHammingState) => Unit,
      append: (DataFrame, AnyHammingState) => Unit,
      retract: (SparkSession, AnyHammingState, AnyHammingState, DataFrame) => Unit,
      compact: (SparkSession, AnyHammingState, AnyHammingState,
        Option[DataFrame]) => Unit) {
    /** This layout as the shared loop runs it; `blocklist` gates each
      * wave. */
    def wave[S <: HammingState[S]](
        blocklist: Option[Dedup.HammingIndex] = None): WaveLayout[S] =
      WaveLayout[S](tag, decodeStep, gate = None, manifest = false,
        init = (spark, st) => write(emptySigs(spark, this), st),
        // decode once per wave (payload bytes never pass this scan); the
        // lazy checkpoint makes decode+materialize+counts ONE job
        screen = (live, _) =>
          screen(live, sign(live).localCheckpoint(eager = false), blocklist),
        dupIds = (rows, st) => dupIds(rows, st.maxHamming),
        probe = probe, append = append, retract = retract, compact = compact,
        line = t => s"decoded=${t.counts._1} blocked=${t.counts._2}",
        stateDocs = (spark, st) =>
          spark.table(st.sigTable).select("doc_id").distinct().count())
  }

  /** The media layout: one `(doc_id, decoded, sig)` row per item, null
    * sig when undecodable. */
  private def flat(signer: DataFrame => DataFrame = defaultImageSigner,
      signerName: String = ImageSignerName): HammingLayout = {
    val signed = Some(signerName)
    HammingLayout("media", "decode + counts", signerName, col("sig"),
      col("decoded"), callerSigner = true,
      sign = signer(_).select(col("doc_id"), col("decoded"), col("sig")),
      screen = (live, sigs, blocklist) => {
        // exact, codegen'd, no join; null sigs pass (undecodable is
        // unprovable). Row-local, so the decoded and blocked counts
        // fold into one aggregation.
        val admittedPred = blocklist.fold(lit(true))(idx =>
          col("sig").isNull || !Dedup.hammingNearSet(col("sig"), idx))
        val admitted = sigs.filter(admittedPred)
        Screen(admitted.filter(col("decoded")),
          () => {
            val r = sigs.agg(count(when(col("decoded"), 1)),
              count(when(!admittedPred, 1))).head()
            (r.getLong(0), r.getLong(1))
          },
          dropIds => live.join(admitted.select("doc_id")
            .join(dropIds, Seq("doc_id"), "left_anti"), Seq("doc_id"), "left_semi"))
      },
      dupIds = Dedup.hammingDupIds(_, "doc_id", "sig", _),
      probe = (rows, st) => Incremental.hammingDupIdsAgainstTable(rows,
        "doc_id", "sig", rows.sparkSession.table(st.sigTable), st.maxHamming,
        signer = signed),
      write = (rows, st) => Incremental.writeHammingState(rows, "doc_id",
        "sig", st.sigTable, st.sigPath, st.maxHamming, st.numBuckets,
        signer = signed),
      append = (rows, st) => Incremental.appendHammingState(rows, "doc_id",
        "sig", st.sigTable, st.maxHamming, st.numBuckets, signer = signed),
      retract = (spark, st, next, _) => Incremental.retractBandedHammingIds(
        spark, st.sigTable, next.sigTable, next.sigPath,
        spark.table(st.tombTable), st.numBuckets),
      compact = (spark, st, next, prior) => Incremental.dedupCompactBandedState(
        spark.table(st.sigTable), "doc_id", next.sigTable, next.sigPath,
        next.numBuckets, priorRemap = prior))
  }

  /** The video layout: one `(doc_id, frame_pos, dhash)` row per sampled
    * frame, none for an undecodable clip; ANY blocklisted frame blocks
    * its clip. */
  private def positional(minFrames: Int, everyNth: Int): HammingLayout = {
    val signed = Some(VideoSignerName)
    HammingLayout("video", "decode + count", VideoSignerName, col("dhash"),
      lit(true), callerSigner = false,
      sign = operators.Video.frameSignatures(_, "doc_id", col("content"), everyNth),
      screen = (live, sigs, blocklist) => {
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
            if (blocklist.isDefined) blockedIds.count() else 0L),
          dropIds => live
            .join(blockedIds, Seq("doc_id"), "left_anti")
            .join(dropIds, Seq("doc_id"), "left_anti"))
      },
      dupIds = operators.Video.clipNearDupPairs(_, "doc_id", _, minFrames)
        .select(col("id_b").as("doc_id")),
      probe = (rows, st) => Incremental.frameHammingDupIdsAgainstTable(rows,
        "doc_id", "dhash", rows.sparkSession.table(st.sigTable),
        st.maxHamming, minFrames, everyNth = everyNth, signer = signed),
      write = (rows, st) => Incremental.writeFrameHammingState(rows,
        "doc_id", "dhash", st.sigTable, st.sigPath, st.maxHamming,
        st.numBuckets, everyNth = everyNth, signer = signed),
      append = (rows, st) => Incremental.appendFrameHammingState(rows,
        "doc_id", "dhash", st.sigTable, st.maxHamming, st.numBuckets,
        everyNth = everyNth, signer = signed),
      retract = (spark, st, next, _) => Incremental.retractFrameHammingIds(
        spark, st.sigTable, next.sigTable, next.sigPath,
        spark.table(st.tombTable), st.numBuckets),
      // reads the same prior `_remap` the loop passes in itself
      compact = (spark, st, next, _) =>
        Incremental.compactFrameHammingDuplicates(spark, st.sigTable,
          next.sigTable, next.sigPath, next.numBuckets))
  }

  /** No signature rows, in `layout`'s own schema: init and rebuild seed
    * with it, so their writers cannot split the bucketBy layout. */
  private def emptySigs(spark: SparkSession, layout: HammingLayout) =
    layout.sign(spark.range(0).select(col("id").as("doc_id"),
      lit(null).cast("binary").as("content")))

  /** A media/video wave's report from the loop's tally. */
  private def mediaReport(t: Tally): MediaWaveReport =
    MediaWaveReport(t.wave, t.incoming, t.live, t.counts._1, t.counts._2,
      t.accepted, t.goldTotal)

  /** Fresh media state: empty bucketed Hamming-signature and tombstone
    * tables, clean gold dir. `maxHamming` fixes the band layout for
    * the state's whole life (every append and probe uses it). */
  def initMediaState(spark: SparkSession, ns: String, dir: String,
      maxHamming: Int = 8, numBuckets: Int = 8,
      signerName: String = ImageSignerName): MediaState =
    initLoop(spark, flat(signerName = signerName).wave[MediaState](),
      MediaState(ns, dir, numBuckets, maxHamming))

  /** Fresh video state (see [[VideoState]]). */
  def initVideoState(spark: SparkSession, ns: String, dir: String,
      maxHamming: Int = 8, minFrames: Int = 2, everyNth: Int = 2,
      numBuckets: Int = 8): VideoState =
    initLoop(spark, positional(minFrames, everyNth).wave[VideoState](),
      VideoState(ns, dir, numBuckets, maxHamming, minFrames, everyNth))

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
    mediaReport(waveLoop(spark,
      flat(signer, signerName).wave[MediaState](blocklist), st, wave, waveNo))

  /** One video wave. `wave` needs (doc_id, content binary AVI); extra
    * columns ride to gold. `blocklist` = flagged IMAGE signatures. */
  def ingestVideoWave(spark: SparkSession, st: VideoState, wave: DataFrame,
      waveNo: Int,
      blocklist: Option[Dedup.HammingIndex] = None): MediaWaveReport =
    mediaReport(waveLoop(spark,
      positional(st.minFrames, st.everyNth).wave[VideoState](blocklist), st,
      wave, waveNo))

  /** Media takedown: tombstones gate later waves, gold rewrites
    * blue/green without the ids, and the signature state drops the
    * ids' rows, so retracted media stop suppressing near-duplicates.
    * Signatures of items DROPPED as their duplicates stay
    * (seen-not-kept, the conservative direction) until
    * [[rebuildMediaState]]. */
  def applyMediaTakedown(spark: SparkSession, st: MediaState,
      ids: DataFrame): MediaState =
    takedownLoop(spark, flat().wave[MediaState](), st, ids)

  /** [[applyMediaTakedown]] over the positional clip state. */
  def applyVideoTakedown(spark: SparkSession, st: VideoState,
      ids: DataFrame): VideoState =
    takedownLoop(spark, positional(st.minFrames, st.everyNth)
      .wave[VideoState](), st, ids)
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
    compactLoop(spark, flat().wave[MediaState](), st)

  def compactVideoSigs(spark: SparkSession, st: VideoState): VideoState =
    compactLoop(spark, positional(st.minFrames, st.everyNth)
      .wave[VideoState](), st)

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
    val dropIds = layout.dupIds(unblocked(sigs.filter(layout.decoded)), maxHamming)
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
    runLoop(spark, textLayout(cfg, gate), IngestState(ns, dir, 8), "ingest",
      wavePaths, takedownPath, compaction, driftCols, driftTokens)
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
    val blocklist = blocklistPath.map(p =>
      Dedup.hammingIndex(spark.read.parquet(p), "sig", maxHamming))
    runLoop(spark, layout.wave[MediaState](blocklist),
      MediaState(ns, dir, 8, maxHamming), "ingest-media", wavePaths,
      takedownPath, compaction, driftCols, driftTokens)
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
      driftCols: Seq[String] = Nil, driftTokens: Int = 0): Unit = {
    val blocklist = blocklistPath.map(p =>
      Dedup.hammingIndex(spark.read.parquet(p), "sig", maxHamming))
    runLoop(spark, positional(minFrames, everyNth).wave[VideoState](blocklist),
      VideoState(ns, dir, 8, maxHamming, minFrames, everyNth), "ingest-video",
      wavePaths, takedownPath, compaction, driftCols, driftTokens)
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
