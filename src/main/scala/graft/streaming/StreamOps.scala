package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming extension surface (SURVEY §2.10).
  *
  * The reference is batch-only; its incremental patterns — watermark
  * CDC loads (S8) and record-at-a-time stateful LSH dedup (D6,
  * /root/reference/pipeline/processing/deduplication.py:4-31) — map
  * onto watermarked streams:
  *  - exact incremental dedup → `dropDuplicatesWithinWatermark`
  *    (bounded state, late data evicted by the watermark);
  *  - fuzzy incremental dedup → `flatMapGroupsWithState` keeping
  *    MinHash signatures per key (state size = signatures, not rows);
  *  - trend aggregates (A9/W1) → tumbling/sliding `window()` aggs;
  *  - harvest-batch grouping → `session_window`;
  *  - recurring ingestion (the retract → gate → dedup-against-state →
  *    state append → gold append loop of [[graft.IngestCli]]) →
  *    [[foreachWave]]: each micro-batch is one call of the same wave
  *    function the batch CLI runs, against the same persisted state —
  *    the stream path has no gate chain of its own.
  *
  * Every operator takes a (possibly streaming) DataFrame — the same
  * code path works in batch mode, which is also how the specs drive
  * it deterministically.
  */
object StreamOps {

  /** Watermarked tumbling/sliding windowed counts per event type
    * (A9-shaped). `slide == size` ⇒ tumbling. */
  def windowedAgg(events: DataFrame, size: String, slide: Option[String] = None,
      watermark: String = "1 hour"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    val win = slide match {
      case Some(s) => window(col("ts"), size, s)
      case None => window(col("ts"), size)
    }
    withWm.groupBy(win.as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))
  }

  /** Session windows per user with the given gap (harvest batches). */
  def sessionAgg(events: DataFrame, gap: String, watermark: String = "1 hour"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm.groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))
  }

  /** D6-exact — incremental dedup with bounded state: streaming uses
    * `dropDuplicatesWithinWatermark` (state evicted past the
    * watermark); batch falls back to plain dropDuplicates. */
  def incrementalDedup(events: DataFrame, idCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(idCols)
    else events.dropDuplicates(idCols)

  final case class Keyed(key: String, id: Long, tokens: Seq[String],
      ts: java.sql.Timestamp = null)
  final case class DedupDecision(key: String, id: Long, isDuplicate: Boolean)

  /** D6-fuzzy — stateful near-dup filter: per key, keep the MinHash
    * signatures of everything seen; a new record whose estimated
    * Jaccard similarity against any stored signature ≥ threshold is
    * flagged duplicate, otherwise its signature joins the state.
    * State is `numPerm` longs per retained record — the stream-scale
    * analog of the reference's in-memory LSH index scan
    * (/root/reference/pipeline/processing/deduplication.py:19-31).
    *
    * State is BOUNDED two ways (a long-running stream must never grow
    * state without limit):
    *  - `maxSignatures` ring cap — only the most recent N signatures
    *    per key are retained (oldest evicted first);
    *  - event-time TTL — the key's state is dropped once the watermark
    *    passes `last event time + ttl` (the same eviction contract as
    *    `dropDuplicatesWithinWatermark`). Rows within a batch are
    *    processed in (ts, id) order so the ring-cap keep set is
    *    deterministic under shuffle.
    */
  def fuzzyDedupStateFn(numPerm: Int = 32, threshold: Double = 0.8,
      maxSignatures: Int = 1024, ttl: String = "1 hour"): (
      String, Iterator[Keyed], GroupState[List[Array[Long]]]) => Iterator[DedupDecision] = {
    def minhash(tokens: Seq[String]): Array[Long] = {
      val sig = Array.fill(numPerm)(Long.MaxValue)
      for (t <- tokens.distinct; i <- 0 until numPerm) {
        val h = scala.util.hashing.byteswap64(t.hashCode.toLong ^ (i.toLong * 0x9E3779B97F4A7C15L))
        if (h < sig(i)) sig(i) = h
      }
      sig
    }
    def estJaccard(a: Array[Long], b: Array[Long]): Double =
      a.indices.count(i => a(i) == b(i)).toDouble / numPerm

    (key: String, rows: Iterator[Keyed], state: GroupState[List[Array[Long]]]) => {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        var sigs = state.getOption.getOrElse(Nil)
        var maxTsMs = Long.MinValue
        val ordered = rows.toSeq.sortBy(r => (Option(r.ts).map(_.getTime).getOrElse(0L), r.id))
        val out = ordered.map { r =>
          if (r.ts != null) maxTsMs = math.max(maxTsMs, r.ts.getTime)
          val sig = minhash(r.tokens)
          val dup = sigs.exists(s => estJaccard(s, sig) >= threshold)
          if (!dup) sigs = (sig :: sigs).take(maxSignatures)
          DedupDecision(key, r.id, dup)
        }
        state.update(sigs)
        // timeout anchored at the newest event for this key. Rows later
        // than the watermark are the only ones that reach this operator,
        // so anchor + ttl always lands past the watermark as required.
        // Null-ts rows (batch fixtures) simply set no timeout.
        if (maxTsMs != Long.MinValue) state.setTimeoutTimestamp(maxTsMs, ttl)
        out.iterator
      }
    }
  }

  /** Apply the stateful fuzzy dedup to a Dataset[Keyed] (streaming or
    * batch-test via the same function). Streaming inputs get a
    * watermark on `ts` so the event-time TTL can evict idle keys. */
  def fuzzyDedupStream(ds: Dataset[Keyed], numPerm: Int = 32,
      threshold: Double = 0.8, maxSignatures: Int = 1024,
      watermarkDelay: String = "10 minutes", ttl: String = "1 hour"): Dataset[DedupDecision] = {
    import ds.sparkSession.implicits._
    val withWm = if (ds.isStreaming) ds.withWatermark("ts", watermarkDelay).as[Keyed] else ds
    withWm.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        fuzzyDedupStateFn(numPerm, threshold, maxSignatures, ttl))
  }

  final case class KeyedVec(cell: Int, id: Long, vec: Seq[Double],
      ts: java.sql.Timestamp = null)
  final case class VecDecision(cell: Int, id: Long, isDuplicate: Boolean)

  /** Streaming SemDeDup — [[graft.operators.Dedup.semanticDedup]]'s
    * arrival-order sibling: per hyperplane cell, remember the vectors
    * of everything SEEN so far (kept AND flagged — the batch contract
    * drops a row similar to ANY earlier cell-mate, including ones that
    * were themselves dropped, so a chain a~b~c with a≁c loses both b
    * and c; comparing against kept-only would keep c and silently
    * diverge from the batch operator). A new vector whose cosine to
    * ANY seen cell-mate is ≥ `1 − eps` is flagged duplicate; either
    * way its vector joins the state. Comparisons never cross cells
    * (the SemDeDup contract), so state partitions by semantic locality
    * and each group stays small.
    *
    * Batch/stream parity: cells come from the SAME seeded hyperplane
    * signature ([[keyByCell]]), and batch invocations process rows in
    * (ts, id) order — so on a batch frame with null timestamps the
    * keep set is exactly `semanticDedup`'s keep-lowest-id contract
    * (spec-asserted, including the chain shape). Streams keep the
    * FIRST arrival instead.
    *
    * State is bounded like [[fuzzyDedupStateFn]]: a `maxVectors` ring
    * cap per cell (oldest evicted first) and an event-time TTL past
    * the watermark. Null/empty/NaN vectors can't be proven duplicate:
    * they pass through un-flagged and never enter state. Vectors of a
    * DIFFERENT dimensionality than a state entry are incomparable
    * (cosine 0), matching the batch kernel's null on length mismatch. */
  def semanticDedupStateFn(eps: Double = 0.05, maxVectors: Int = 1024,
      ttl: String = "1 hour"): (
      Int, Iterator[KeyedVec], GroupState[List[Array[Double]]]) => Iterator[VecDecision] = {
    require(eps > 0 && eps < 1, "eps must be in (0, 1)")
    val t = 1.0 - eps
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      if (a.length != b.length) return 0.0 // incomparable, like the batch kernel
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    (cell: Int, rows: Iterator[KeyedVec], state: GroupState[List[Array[Double]]]) => {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        var seen = state.getOption.getOrElse(Nil)
        var maxTsMs = Long.MinValue
        val ordered = rows.toSeq.sortBy(r => (Option(r.ts).map(_.getTime).getOrElse(0L), r.id))
        val out = ordered.map { r =>
          if (r.ts != null) maxTsMs = math.max(maxTsMs, r.ts.getTime)
          val v = if (r.vec == null) Array.empty[Double] else r.vec.toArray
          val comparable = v.nonEmpty && !v.exists(_.isNaN)
          val dup = comparable && seen.exists(k => cosine(k, v) >= t)
          if (comparable) seen = (v :: seen).take(maxVectors)
          VecDecision(cell, r.id, dup)
        }
        state.update(seen)
        if (maxTsMs != Long.MinValue) state.setTimeoutTimestamp(maxTsMs, ttl)
        out.iterator
      }
    }
  }

  /** Apply the stateful semantic dedup to a Dataset[KeyedVec]
    * (streaming, or batch-test via the same function). Streaming
    * inputs get a watermark on `ts` so the event-time TTL can evict
    * idle cells. */
  def semanticDedupStream(ds: Dataset[KeyedVec], eps: Double = 0.05,
      maxVectors: Int = 1024, watermarkDelay: String = "10 minutes",
      ttl: String = "1 hour"): Dataset[VecDecision] = {
    import ds.sparkSession.implicits._
    val withWm = if (ds.isStreaming) ds.withWatermark("ts", watermarkDelay).as[KeyedVec] else ds
    withWm.groupByKey(_.cell)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        semanticDedupStateFn(eps, maxVectors, ttl))
  }

  /** Key an (id, vec[, ts]) frame by its hyperplane cell — one narrow
    * map (no fit, no shuffle), streaming-legal, deterministic in
    * (seed, dim); the SAME bucketing [[graft.operators.Dedup
    * .semanticDedup]] uses, so a stream and a batch job agree on which
    * rows are ever compared. */
  def keyByCell(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 256, seed: Long = 42L, tsCol: String = null): Dataset[KeyedVec] = {
    import df.sparkSession.implicits._
    val vd = col(vecCol).cast("array<double>")
    // the ONE cell definition shared with the batch operator and the
    // incremental state table; null/empty vectors get cell 0
    // (KeyedVec.cell is a primitive) — they are never compared or
    // stored, only passed through
    val cell = graft.operators.Dedup.semanticCell(vd, nCells, seed)
    df.select(cell.as("cell"), col(idCol).cast("long").as("id"), vd.as("vec"),
        (if (tsCol == null) lit(null).cast("timestamp") else col(tsCol).cast("timestamp"))
          .as("ts"))
      .as[KeyedVec]
  }

  /** Stream-stream INTERVAL join: every (left, right) pair with equal
    * `keyCol` and `right.ts ∈ [left.ts, left.ts + within]` — the
    * funnel/attribution primitive (view → click within 10 minutes).
    *
    * Right-side columns come back suffixed `_r` (`ts_r`, ...): both
    * sides usually derive from the same event schema.
    *
    * Streaming semantics: BOTH sides get watermarks, and the join
    * condition bounds right.ts relative to left.ts in both directions,
    * which is exactly what Spark needs to compute each side's state
    * eviction point — without the time bound a stream-stream inner
    * join would buffer both streams forever. State per side is
    * `watermark + within` of events. The same code path runs in batch
    * (the specs and the q60 oracle drive it there: a range-predicate
    * hash join on the key).
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, within: String,
      watermark: String = "1 hour"): DataFrame = {
    val l = if (left.isStreaming) left.withWatermark(tsCol, watermark) else left
    val renamed = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, c + "_r"))
    val r = if (renamed.isStreaming) renamed.withWatermark(tsCol + "_r", watermark) else renamed
    l.join(r,
      col(keyCol) === col(keyCol + "_r") &&
        col(tsCol + "_r") >= col(tsCol) &&
        col(tsCol + "_r") <= col(tsCol) + expr(s"INTERVAL $within"))
      .drop(keyCol + "_r")
  }

  /** Sorted xxhash64 digests of an eval set's word n-grams — the
    * broadcast model for [[decontaminateStream]]. One batch job over
    * the (benchmark-sized) eval set; collisions against corpus grams
    * at 64 bits are ~n·m/2⁶⁴ and only ever drop an extra doc (the
    * safe direction). */
  def evalGramDigests(evalSet: DataFrame, evalTextCol: Column, nWords: Int = 13): Array[Long] =
    evalSet
      .select(explode(graft.operators.Dedup.wordNGrams(evalTextCol, nWords)).as("__g"))
      .select(xxhash64(col("__g")).as("__d")).distinct()
      .orderBy("__d").collect().map(_.getLong(0))

  /** Streaming benchmark-decontamination gate: drop every incoming
    * document sharing an `nWords`-gram with a fixed eval set — the
    * online counterpart of
    * [[graft.operators.Dedup.contaminationProfile]] for ingestion
    * pipelines that must never let benchmark text reach the training
    * corpus in the first place. A stream-stream anti-join (explode →
    * hit → join back) is not streaming-legal, and doesn't need to be:
    * the eval set is FIXED, so its gram digests ride into a native
    * membership expression ([[graft.functions.CountInSortedLongs]])
    * and the gate is a pure map-side filter — no join, no state, no
    * watermark, works in append mode and identically in batch (how
    * the spec pins agreement with the batch operator). */
  def decontaminateStream(docs: DataFrame, textCol: Column,
      evalDigests: Array[Long], nWords: Int = 13): DataFrame =
    docs.filter(decontaminatePredicate(textCol, evalDigests, nWords))

  /** The row-local predicate behind [[decontaminateStream]] — exposed
    * so audit aggregations can COUNT gate survivors in the same pass
    * that computes other wave statistics (one scan, not one per
    * counter) while the filtering data path keeps calling
    * [[decontaminateStream]]; both routes evaluate this one
    * definition, so the gate cannot drift between them. */
  def decontaminatePredicate(textCol: Column, evalDigests: Array[Long],
      nWords: Int = 13): Column = {
    val grams = graft.operators.Dedup.wordNGrams(textCol, nWords)
    val digests = transform(grams, g => xxhash64(g))
    val hits = graft.functions.text.expr2col(graft.functions.CountInSortedLongs(
      graft.functions.text.col2expr(digests), evalDigests))
    hits === 0
  }

  /** [[decontaminateStream]] for an eval set too large to collect as
    * a sorted digest array: same stateless map-side gate, with
    * membership tested against a Bloom filter built once via
    * [[graft.operators.Dedup.evalGramBloom]] (~3.6 bytes/gram at
    * fpp=1e-6 vs 8 for raw digests). The Bloom error is one-sided —
    * a contaminated doc can NEVER pass the gate; a clean doc is
    * over-dropped at ~fpp per gram. Streaming-legal in any output
    * mode, identical in batch. */
  def decontaminateStreamBloom(docs: DataFrame, textCol: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      nWords: Int = 13): DataFrame = {
    val grams = graft.operators.Dedup.wordNGrams(textCol, nWords)
    val digests = transform(grams, g => xxhash64(g))
    val hits = graft.functions.text.expr2col(graft.functions.CountInBloom(
      graft.functions.text.col2expr(digests), bloom))
    docs.filter(hits === 0)
  }

  /** Streaming novelty gate: keep only incoming documents whose
    * estimated n-gram novelty — the fraction of their distinct grams
    * ABSENT from the frozen seen-set Bloom filter
    * ([[graft.operators.Incremental.gramBloom]] over the persisted
    * seen-gram state) — clears `minNovelty`. The online counterpart
    * of [[graft.operators.Incremental.noveltyAgainstTable]] for
    * ingestion pipelines that triage crawl snapshots before paying
    * storage: stale re-crawls drop at the edge.
    *
    * Same architecture as [[decontaminateStreamBloom]]: the seen set
    * is FIXED for the gate's lifetime, so membership rides into one
    * codegen'd map-side expression — no join, no state, no
    * watermark; append-mode legal, identical in batch (how the spec
    * pins agreement with the batch operator). Bloom error is
    * one-sided conservative: a false positive marks a new gram
    * "seen", so novelty is only ever UNDER-estimated — stale content
    * can never pass as fresh; truly-novel docs are over-dropped at
    * ~fpp per gram. Documents with fewer than `n` words have no
    * grams and PASS (novelty is unprovable, the
    * [[semanticDecontaminateStream]] convention); the batch operator
    * reports them as NULL for the same reason. Novelty is rounded at
    * the batch surface (6 places) before the threshold so a batch
    * consumer filtering `novelty >= min` can never disagree near the
    * boundary. */
  def noveltyGateStream(docs: DataFrame, textCol: Column,
      seenBloom: org.apache.spark.util.sketch.BloomFilter,
      n: Int = 4, minNovelty: Double = 0.5): DataFrame = {
    // null text → zero grams → PASS, matching the batch operator's
    // (n_grams=0, novelty NULL) verdict; without the coalesce the
    // null-intolerant gram kernel would turn the whole predicate
    // NULL and silently DROP the row
    val digests = transform(
      array_distinct(graft.operators.Dedup.wordNGrams(
        coalesce(textCol, lit("")), n)),
      g => xxhash64(g))
    val seen = graft.functions.text.expr2col(graft.functions.CountInBloom(
      graft.functions.text.col2expr(digests), seenBloom))
    val total = size(digests)
    docs.filter(total === 0 ||
      round((total - seen) * lit(1.0) / total, 6) >= minNovelty)
  }

  /** Streaming near-verbatim-overlap gate: keep only incoming
    * documents sharing fewer than `maxShared` winnowing fingerprints
    * with the frozen corpus fingerprint set
    * ([[graft.operators.Incremental.fingerprintBloom]] over the
    * persisted posting table). The online triage in front of
    * [[graft.operators.Incremental.overlapAgainstTable]]: a crawl
    * batch re-serving pages the corpus already holds is flagged at
    * the edge, before storage or a batch probe is paid.
    *
    * The whole document-side computation — grams, hashes, rightmost-
    * min selection — runs inside ONE codegen'd kernel
    * ([[graft.functions.WinnowFps]]), so the gate is a stateless
    * map-side filter: no join, no state, no watermark; append-legal,
    * identical in batch. Semantics are deliberately CORPUS-level, not
    * pair-level: the Bloom counts fingerprints seen anywhere, so a
    * doc sharing one fingerprint with each of two different corpus
    * documents counts 2 — a superset of any per-pair `shared_fps ≥
    * maxShared` verdict (the spec pins the superset property). Bloom
    * error is one-sided toward over-flagging (~fpp per fingerprint);
    * a clean pass is as strong as the posting table behind the Bloom
    * — overlap carried ONLY by fingerprints the build's `maxDf` cap
    * excluded (ubiquitous boilerplate) is invisible to it, the
    * documented [[graft.operators.Incremental.writeFingerprintTable]]
    * caveat. The gate hashes with the (k, w) the
    * [[graft.operators.Incremental.CorpusFingerprints]] carries, so
    * it can never silently mismatch the corpus build. Null/short
    * texts have no complete window and PASS — novelty-unprovable
    * rows are never dropped, the gate convention everywhere in the
    * engine. */
  def overlapGateStream(docs: DataFrame, textCol: Column,
      corpusFps: graft.operators.Incremental.CorpusFingerprints,
      maxShared: Int = 2): DataFrame = {
    val fps = graft.operators.Winnow.fingerprintSet(
      coalesce(textCol, lit("")), corpusFps.k, corpusFps.w)
    val hits = graft.functions.text.expr2col(graft.functions.CountInBloom(
      graft.functions.text.col2expr(fps), corpusFps.bloom))
    docs.filter(hits < maxShared)
  }

  /** Streaming media blocklist gate: keep rows whose 64-bit
    * perceptual signature (image dHash / audio eHash / text SimHash —
    * compute it upstream with [[graft.operators.Images
    * .imageSignatures]]-style typed ops, which are streaming-legal)
    * is NOT within `maxHamming` bits of any blocklisted signature.
    * The blocklist rides as a driver-built pigeonhole index
    * ([[graft.operators.Dedup.hammingIndex]] — request-scale:
    * flagged/licensed/takedown media, not a corpus) inside ONE
    * codegen'd filter ([[graft.functions.HammingNearSet]]): no join,
    * no state, no watermark, EXACT both ways (a blocked payload can
    * never pass, a clean one is never dropped — the Bloom gates'
    * one-sided error does not apply here), identical in batch. Null
    * signatures (undecodable payloads) pass — unprovable, the gate
    * convention everywhere else; quarantine them upstream on the
    * `decoded` flag when policy requires it. The Hamming budget is
    * the INDEX's — carried inside [[graft.operators.Dedup
    * .HammingIndex]] so the gate can never probe at a band layout
    * different from the one the blocklist was built with. */
  def hammingBlockGateStream(rows: DataFrame, sigCol: Column,
      blockIndex: graft.operators.Dedup.HammingIndex): DataFrame =
    rows.filter(sigCol.isNull ||
      !graft.operators.Dedup.hammingNearSet(sigCol, blockIndex))

  /** Streaming VIDEO blocklist gate: keep clips NONE of whose sampled
    * frames is within the blocklist's budget of a flagged still — the
    * video wave loop's cross-modal gate ([[graft.IngestCli]]) at
    * stream cadence. Decode happens INSIDE one stateless typed filter
    * — clip bytes never leave the partition and there is no frame
    * explode (a frame-level explode would need a stream-stream
    * anti-join to reassemble clips, which is not streaming-legal);
    * the driver-built index rides in the closure exactly like the
    * codegen gates' referenced arrays, and the per-clip decision
    * short-circuits on the first flagged frame. EXACT both ways like
    * [[hammingBlockGateStream]]; undecodable clips pass (unprovable);
    * `everyNth` must match the enforcement contract's sampling grid.
    * Identical in batch (StreamingSpec pins stream ≡ batch ≡ brute
    * force). */
  def videoBlockGateStream(clips: DataFrame, contentCol: String,
      blockIndex: graft.operators.Dedup.HammingIndex,
      everyNth: Int = 2): DataFrame =
    clips.filter((row: org.apache.spark.sql.Row) =>
      !graft.operators.Video.clipBlocked(
        row.getAs[Array[Byte]](contentCol), blockIndex, everyNth))

  /** Streaming learned-quality gate: keep rows whose Naive-Bayes
    * log-odds score clears `minScore`. The classifier's dictionary is
    * trained offline ([[graft.operators.Classifier.nbTrain]] →
    * `collectDict`) and rides along as referenced primitive arrays
    * inside ONE codegen'd projection
    * ([[graft.functions.SumWeightsByHash]]) — no explode, no join, no
    * state, no watermark; streaming-legal in any output mode and
    * identical in batch (how the spec pins agreement with
    * [[graft.operators.Classifier.nbScoreMapSide]]). Null-text rows
    * score exactly the prior, so they pass iff the prior does — the
    * same convention as the batch scorer. */
  def qualityGateStream(docs: DataFrame, textCol: Column,
      keys: Array[Long], weights: Array[Double],
      logPrior: Double, minScore: Double): DataFrame =
    // gate on the ROUND-4 score — the batch scorers' output surface —
    // so a batch consumer filtering `nb_llr >= min` and this stream
    // can never disagree within 5e-5 of the threshold
    docs.filter(round(graft.operators.Classifier.nbScoreColumn(
      textCol, keys, weights, logPrior), 4) >= minScore)

  /** [[qualityGateStream]] with per-stratum models (the CCNet
    * per-language stance, online): the flat stratified dictionary
    * rides as referenced arrays (map-side, `xxhash64(stratum, token)`
    * keys — [[graft.operators.Classifier.collectDictStratified]]) and
    * the per-stratum priors come in as a stream-STATIC broadcast left
    * join on the stratum (strata-count rows, the `evalCellVectors`
    * pattern). Rows from a stratum with no model — absent from
    * training, or one-class (NULL prior) — score NULL and FAIL the
    * gate, exactly as a batch consumer filtering the stratified
    * scorer's `nb_llr >= min` would drop them (SQL null semantics);
    * pre-route such strata if they must pass. Append-legal, no state,
    * no watermark. */
  def qualityGateStreamStratified(docs: DataFrame, strataCol: Column,
      textCol: Column, keys: Array[Long], weights: Array[Double],
      priors: DataFrame, minScore: Double): DataFrame = {
    val score = round(graft.operators.Classifier.stratHitSum(
      strataCol, textCol, keys, weights) + col("__p"), 4)
    // null-safe, like the batch scorer: a two-class NULL stratum has a
    // real model and its rows must gate on it, not auto-fail
    docs.join(broadcast(priors), strataCol <=> col("__st"), "left")
      .filter(score >= minScore)
      .drop("__st", "__p")
  }

  /** Streaming SEMANTIC (paraphrase-level) decontamination gate — the
    * online counterpart of
    * [[graft.operators.Dedup.semanticDecontaminate]], completing the
    * streaming decontamination family: [[decontaminateStream]] is the
    * verbatim-gram gate, [[decontaminateStreamBloom]] its
    * big-eval-set form, and this one drops incoming rows whose
    * embedding lies within cosine `eps` of ANY reference vector
    * sharing its seeded SemDeDup cell — leaks with no surface n-gram
    * overlap at all. Run it BEHIND the verbatim gates, and share
    * `nCells`/`seed` with the batch path so stream and batch agree on
    * which pairs are ever compared (the SemDeDup recall contract).
    *
    * The eval set is FIXED and benchmark-sized, so this is a
    * stream-STATIC left_anti join against the broadcast
    * [[graft.operators.Dedup.evalCellVectors]] frame — streaming-legal
    * in append mode, no state, no watermark, identical in batch (how
    * the spec pins agreement). The comparability guard sits INSIDE
    * the join condition: a null/NaN-poisoned embedding can never be
    * PROVEN contaminated, so such rows pass un-dropped (NaN cosine
    * would otherwise order ABOVE the threshold and silently drop
    * them). `nCells` must be explicit — a stream has no corpus count
    * to auto-size from. */
  def semanticDecontaminateStream(docs: DataFrame, vecCol: String,
      evalCells: DataFrame, eps: Double, nCells: Int,
      seed: Long = 42L): DataFrame = {
    require(eps > 0 && eps < 1, "eps must be in (0, 1)")
    require(nCells > 0, "nCells must be explicit for a stream")
    val t = 1.0 - eps
    val vd = col(vecCol).cast("array<double>")
    docs.join(broadcast(evalCells),
      graft.operators.Dedup.semanticComparable(vd) &&
        graft.operators.Dedup.semanticCell(vd, nCells, seed) === col("__cell") &&
        graft.operators.Similarity.cosine(vd, col("__rv")) >= t,
      "left_anti")
  }

  /** S8 — CDC watermark incremental scan as a composable predicate:
    * rows strictly newer than the last sync point. At the source level
    * this predicate pushes into JDBC/parquet scans. No ORDER BY: the
    * reference's serial cursor needed one, a distributed consumer
    * doesn't — a global sort is a range-partition exchange the caller
    * almost never wants (sort downstream if an order is required). */
  def incrementalSince(df: DataFrame, wmCol: String, lastSync: java.sql.Timestamp): DataFrame =
    df.filter(col(wmCol) > lit(lastSync))

  /** The stream driver of the wave loops: run `wave` on the driver for
    * each non-empty micro-batch, passing the micro-batch id as the wave
    * number. A media stream is
    * {{{
    * foreachWave(stream, Some(ckpt)) { (b, n) =>
    *   IngestCli.ingestMediaWave(spark, st, b, n.toInt, blocklist = idx) }
    * }}}
    * and a video stream the same with [[graft.IngestCli.ingestVideoWave]]:
    * each micro-batch is one whole wave of [[graft.IngestCli]]'s loop
    * (in-wave near-duplicate pairs, the bucketed state probe, the state
    * append, the gold append) against the one persisted state the batch
    * calls keep, so a stream and direct calls over the same waves leave
    * equal gold and state (StreamingSpec pins it). [[clusterAssignStream]]
    * runs its cluster waves through it too.
    *
    * Replay: a micro-batch whose function did not return (a crash, a
    * throw) runs again on restart, under the same batch id, over the
    * same rows. Nothing here fences that, so a replay does whatever a
    * second call of `wave` does; no exactly-once claim. For the ingest
    * waves that is the loop's crash note ([[graft.IngestCli]]): once a
    * wave's state append has landed, the re-run finds the wave's own
    * signatures in state and drops its decoded rows as their duplicates,
    * so rows whose gold append had not landed never reach gold, and
    * rows no probe can judge (undecodable payloads) reach gold again if
    * it had. */
  def foreachWave(waves: DataFrame, checkpointDir: Option[String],
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())(
      wave: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = waves.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) wave(batch, batchId)
      }
      .trigger(trigger)
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Streaming cluster assignment — the incremental near-dup CLUSTER
    * loop ([[graft.operators.Incremental.appendClusters]]) at stream
    * cadence, giving the q160 family the same wave parity the
    * text/media/video loops have. Each micro-batch is one WAVE:
    * [[foreachWave]] drives it through the persisted cluster state
    * (join / found / bridge-merge, overlay-aware) and appends the
    * wave's `(id, cluster, micro_batch)` assignments to `assignDir`.
    * Because resolved membership is wave-order INDEPENDENT (min
    * labels are global minima; merges retire behind the alias map),
    * any micro-batching of the same rows resolves identically to the
    * batch path — the parity contract StreamingSpec pins.
    *
    * Contracts inherited from appendClusters: ids unique across the
    * state's life (dedup upstream); the assignment rows are labels AT
    * ASSIGNMENT TIME — read [[graft.operators.Incremental
    * .resolveClusters]] for current canon. Delivery is AT-LEAST-ONCE:
    * a crashed micro-batch replays on restart and would stack
    * duplicate membership rows — fence replays upstream (the ledger
    * pattern [[graft.sources.Fetch.harvestResumable]] uses) or
    * recover via [[graft.operators.Incremental.recoverClusters]].
    *
    * `winnow = true` swaps the wave enumerator to the df-capped
    * winnow-fingerprint state ([[graft.operators.Incremental
    * .appendWinnowClusters]], the q170 family — `k`/`winnowW`/
    * `minShared`/`maxDf` are its knobs and `n`/`threshold` are
    * ignored): the production escape from the exact-gram probe's
    * Σ df_wave·df_state boilerplate fan-out, now with the same
    * stream-cadence parity as the gram path. The two enumerators
    * keep INCOMPATIBLE posting schemas — point `winnow` streams at
    * winnow-built [[graft.operators.Incremental.ClusterTables]]
    * only (writeWinnowClusterState), exactly as the batch CLI
    * does. */
  def clusterAssignStream(
      waves: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      t: graft.operators.Incremental.ClusterTables,
      assignDir: String,
      checkpointDir: Option[String] = None,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      winnow: Boolean = false, k: Int = 4, winnowW: Int = 4,
      minShared: Long = 2, maxDf: Long = 64): org.apache.spark.sql.streaming.StreamingQuery =
    foreachWave(waves, checkpointDir, trigger) { (batch, batchId) =>
      val assigned =
        if (winnow) graft.operators.Incremental.appendWinnowClusters(
          batch, idCol, col(textCol), t, k, winnowW, minShared, maxDf)
        else graft.operators.Incremental.appendClusters(batch, idCol,
          col(textCol), n, threshold, t)
      assigned
        .withColumn("micro_batch", lit(batchId))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(assignDir)
    }

  /** Stream → metadata-warehouse bridge: sink a streaming aggregate
    * into the `quality_metrics` table via foreachBatch, one metric row
    * per (batch, event_type). Micro-batch writes are idempotent per
    * batchId-tagged run id, so replays don't double-count. */
  def metricsSink(
      agg: DataFrame,
      warehouseDir: String,
      metricName: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery = {
    agg.writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.select(
          concat(lit("stream-batch-"), lit(batchId)).as("run_id"),
          lit(metricName).as("metric_name"),
          col("n").cast("double").as("metric_value"),
          lit("count").as("metric_unit"),
          lit("all").as("dataset_split"),
          current_timestamp().as("measured_at"))
          .write.mode("append")
          .parquet(s"$warehouseDir/quality_metrics")
        ()
      }
      .trigger(trigger)
      .start()
  }
}
