package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.functions.text
import graft.sources.CorpusIO.writeBucketed

/** Incremental-ingestion state tables, persisted BUCKETED so the
  * recurring "new batch vs corpus" join never shuffles the corpus
  * side again (SURVEY §2.4 D6's batch complement; reference
  * re-reads + re-hashes the whole corpus every run,
  * /root/reference/src/transforms/deduplicators.py:95-118).
  *
  * The scale story: at 100 TB the corpus-side state (content digests,
  * MinHash band buckets) is the big relation and every arriving batch
  * joins against it. A plain parquet state table costs a full
  * corpus-side shuffle + sort per batch; a `bucketBy` table stores
  * HashPartitioning(join keys) ON DISK, so each batch join plans as
  * SortMergeJoin with an Exchange on the (small) incoming side only —
  * the corpus is read bucket-aligned, pre-sorted (`sortBy`), and never
  * re-shuffled. Appending a deduped batch back (`SaveMode.Append`)
  * keeps the bucketing invariant, so state maintenance is also
  * shuffle-bounded by batch size, not corpus size. Every table here
  * is written through [[graft.sources.CorpusIO.writeBucketed]], which
  * owns that layout; each writer below supplies only its rows and keys.
  *
  * Digests are 128-bit (two independent `xxhash64` seeds): 8+8 bytes
  * per row of join key vs ~300-byte texts or 64-char hex sha strings —
  * the wire format for a shuffle that exists only on the batch side,
  * and a collision needs ~2^64 distinct documents.
  */
object Incremental {

  /** Exact-dedup state: one row per corpus document, keyed by the
    * 128-bit content digest of the NORMALIZED text (same `norm_key`
    * as every exact-dedup path), bucketed + bucket-sorted by the
    * digest pair. */
  def writeDigestTable(corpus: DataFrame, textCol: Column,
      table: String, path: String, numBuckets: Int = 64): Unit =
    writeBucketed(digestKeys(corpus, textCol), table, Seq("__d1", "__d2"),
      numBuckets, path = Some(path))

  /** Drop every `incoming` row whose normalized text already exists
    * in the persisted corpus digest table (read it with
    * `spark.table(name)` so the catalog's bucketing spec applies).
    * One anti-join on (d1, d2); only the incoming side shuffles. */
  def exactDedupAgainstTable(incoming: DataFrame, textCol: Column,
      corpusDigests: DataFrame): DataFrame =
    digests(incoming, textCol)
      .join(corpusDigests.select(col("__d1"), col("__d2")),
        Seq("__d1", "__d2"), "left_anti")
      .drop("__d1", "__d2")

  /** Grow the exact-dedup state by an (already-deduped) batch: append
    * the batch's digests with the SAME bucket spec, so the table stays
    * bucket-aligned and the next probe is still corpus-shuffle-free.
    * `numBuckets` must match [[writeDigestTable]]. */
  def appendDigests(batch: DataFrame, textCol: Column,
      table: String, numBuckets: Int = 64): Unit =
    writeBucketed(digestKeys(batch, textCol), table, Seq("__d1", "__d2"),
      numBuckets, SaveMode.Append)

  /** Release-audit snapshot state: one row per corpus id with its
    * 128-bit content digest ([[Stats.contentDigest]] — the same bytes
    * [[Stats.snapshotDiff]] compares), bucketed + bucket-sorted by
    * the id so the recurring "new snapshot vs last release" diff
    * joins without ever shuffling the state side. The release-cycle
    * complement of the dedup state tables: write once per release,
    * then every candidate build diffs against it batch-cost-only. */
  def writeSnapshotTable(corpus: DataFrame, idCol: String,
      contentCols: Seq[String], table: String, path: String,
      numBuckets: Int = 64): Unit =
    writeBucketed(
      corpus.select(col(idCol), Stats.contentDigest(contentCols).as("__oh")),
      table, Seq(idCol), numBuckets, path = Some(path))

  /** [[Stats.snapshotDiff]] of a new corpus version against a
    * persisted [[writeSnapshotTable]] state (read it with
    * `spark.table(name)` so the catalog's bucketing spec applies):
    * one full-outer SMJ on the id with an Exchange on the NEW side
    * only — the old release's digests stream bucket-aligned from
    * disk. Output schema identical to `snapshotDiff`. */
  def snapshotDiffAgainstTable(newDf: DataFrame, idCol: String,
      contentCols: Seq[String], snapshot: DataFrame): DataFrame =
    Stats.classifyDiff(
      snapshot.select(col(idCol), col("__oh")),
      newDf.select(col(idCol), Stats.contentDigest(contentCols).as("__nh")),
      idCol)

  private def digests(df: DataFrame, textCol: Column): DataFrame = {
    val k = text.norm_key(textCol)
    df.withColumn("__d1", xxhash64(k))
      .withColumn("__d2", xxhash64(k, lit(0x9e3779b9L)))
  }

  /** The `(__d1, __d2)` digest keys of a batch's texts — the identity
    * the digest state is keyed by. Public so a takedown path can
    * compute the retracted documents' keys (from their retained text)
    * and compact the CONTENT-keyed digest table physically; see
    * [[graft.IngestCli.applyTakedown]]. */
  def digestKeys(df: DataFrame, textCol: Column): DataFrame =
    digests(df.select(textCol.as("__t")), col("__t"))
      .select(col("__d1"), col("__d2"))

  /** Fuzzy-dedup state: the corpus MinHash signature table persisted
    * in BANDED form — one row per (band, bucket) collision key with
    * the document id and full signature — bucketed by (band, bucket),
    * i.e. exactly the join key [[Dedup.minhashDedupAgainst]] probes.
    * Columns: `band INT, bucket BIGINT, <idCol>, sig ARRAY<BIGINT>`.
    *
    * vs [[Dedup.minhashSignatures]] (plain `(id, sig)` parquet): the
    * banded table is `bands`× larger on disk but pre-positioned —
    * each batch probe joins corpus rows without a corpus-side
    * exchange. Store plain signatures when storage dominates; store
    * banded-bucketed when the probe cadence dominates (the streaming
    * /incremental design point). */
  def writeBandedSignatures(corpus: DataFrame, idCol: String, textCol: Column,
      table: String, path: String, numBuckets: Int = 64,
      numPerm: Int = 128, bands: Int = 32, shingleSize: Int = 3): Unit =
    writeBandedSigs(
      Dedup.minhashSignatures(corpus, idCol, textCol, numPerm, shingleSize),
      idCol, table, numBuckets, numPerm, bands, SaveMode.Overwrite, Some(path))

  /** Write (`Overwrite` at `path`) or grow (`Append`, the same bucket
    * spec) the banded-signature state from an ALREADY-signed frame
    * (`idCol`, `__sig`; other columns are ignored; parameters must match
    * the state's). The text wave loop signs each wave once and appends
    * every document that REACHED the fuzzy stage, including ones the
    * probe then drops: a later document similar only to a dropped one
    * must still drop (the round-5 chain a~b~c, the seen-not-kept
    * contract of [[graft.IngestCli]]). */
  private[graft] def writeBandedSigs(signed: DataFrame, idCol: String,
      table: String, numBuckets: Int, numPerm: Int, bands: Int,
      mode: SaveMode = SaveMode.Append, path: Option[String] = None): Unit = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    writeBucketed(banded(signed, idCol, bands, numPerm / bands), table,
      Seq("band", "bucket"), numBuckets, mode, path)
  }

  /** [[Dedup.minhashDedupAgainst]] against a persisted
    * [[writeBandedSignatures]] table: drop every incoming row whose
    * estimated Jaccard against ANY corpus row meets `threshold`.
    * Identical output (same signatures, same band hashing); the only
    * difference is physical — the corpus side arrives bucket-aligned
    * from disk. Parameters must match the ones the table was written
    * with. */
  def minhashDedupAgainstTable(
      incoming: DataFrame, idCol: String, textCol: Column,
      bandedCorpus: DataFrame,
      threshold: Double = 0.8,
      numPerm: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 3): DataFrame = {
    val dupIds = fuzzyDupIds(incoming, idCol, textCol, bandedCorpus,
        threshold, numPerm, bands, shingleSize)
      .localCheckpoint(true)
    incoming.join(dupIds, Seq(idCol), "left_anti")
  }

  /** The probe: banded incoming signatures joined to the corpus table
    * on the physical (band, bucket) key, signature-agreement filter,
    * distinct incoming ids. Package-visible un-checkpointed so specs
    * can assert the join's physical plan (the public API checkpoints
    * the tiny id set before the anti-join, which hides the plan). */
  private[graft] def fuzzyDupIds(
      incoming: DataFrame, idCol: String, textCol: Column,
      bandedCorpus: DataFrame, threshold: Double,
      numPerm: Int, bands: Int, shingleSize: Int): DataFrame =
    fuzzyDupIdsFromSigs(
      Dedup.minhashSignatures(incoming, idCol, textCol, numPerm, shingleSize),
      idCol, bandedCorpus, threshold, numPerm, bands)

  /** [[fuzzyDupIds]] over an ALREADY-signed incoming frame (`idCol`,
    * `__sig`; other columns are ignored). */
  private[graft] def fuzzyDupIdsFromSigs(signed: DataFrame, idCol: String,
      bandedCorpus: DataFrame, threshold: Double,
      numPerm: Int, bands: Int): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    // exactly (band, bucket, <id>, sig) — an extra column would make
    // the id inference silently pick the wrong one, so reject it
    val corpusIdCol = bandedCorpus.columns.filterNot(Set("band", "bucket", "sig")) match {
      case Array(id) if bandedCorpus.columns.length == 4 => id
      case _ => throw new IllegalArgumentException(
        "not a banded signature table (want exactly band, bucket, <id>, sig): " +
          bandedCorpus.columns.mkString(","))
    }
    val inc = banded(signed, idCol, bands, numPerm / bands)
      .withColumnRenamed(idCol, "__idI").withColumnRenamed("sig", "__sigI")
    val cor = bandedCorpus
      .select(col("band"), col("bucket"),
        col(corpusIdCol).as("__idC"), col("sig").as("__sigC"))
    val agree = text.expr2col(graft.functions.SigAgreeCount(
      text.col2expr(col("__sigI")), text.col2expr(col("__sigC"))))
    inc.join(cor, Seq("band", "bucket"))
      .filter(agree.cast("double") / numPerm >= threshold)
      .select(col("__idI").as(idCol)).distinct()
  }

  /** Semantic-dedup state: one row per corpus vector, keyed by its
    * seeded hyperplane cell ([[Dedup.semanticDedup]]'s bucketing),
    * bucketed + bucket-sorted by `cell` — so each batch probe joins
    * corpus vectors cell-aligned from disk with an exchange on the
    * (small) incoming side only. Columns: `cell INT, <idCol>,
    * vec ARRAY<DOUBLE>`. Non-finite corpus vectors are excluded (they
    * can never prove an incoming row duplicate). `nCells`/`seed` are
    * part of the table's identity — probes must pass the same values. */
  def writeCellVectors(corpus: DataFrame, idCol: String, vecCol: String,
      table: String, path: String, numBuckets: Int = 64,
      nCells: Int = 256, seed: Long = 42L): Unit =
    writeBucketed(cellKeyed(corpus, idCol, vecCol, nCells, seed), table,
      Seq("cell"), numBuckets, path = Some(path))

  /** Grow the semantic-dedup state by an (already-deduped) batch with
    * the SAME bucket spec, keeping the next probe corpus-shuffle-free.
    * `numBuckets`/`nCells`/`seed` must match [[writeCellVectors]]. */
  def appendCellVectors(batch: DataFrame, idCol: String, vecCol: String,
      table: String, numBuckets: Int = 64,
      nCells: Int = 256, seed: Long = 42L): Unit =
    writeBucketed(cellKeyed(batch, idCol, vecCol, nCells, seed), table,
      Seq("cell"), numBuckets, SaveMode.Append)

  /** [[Dedup.semanticDedup]] against a persisted [[writeCellVectors]]
    * table: drop every incoming row whose cosine to ANY corpus vector
    * in the SAME cell is ≥ `1 − eps` — the incremental growth path of
    * a semantically-thinned corpus (batch vs corpus only; follow with
    * [[Dedup.semanticDedup]] on the survivors for within-batch
    * thinning, then [[appendCellVectors]]). Incoming rows with
    * non-finite embeddings pass through, like every dedup path. */
  def semanticDedupAgainstTable(
      incoming: DataFrame, idCol: String, vecCol: String,
      cellCorpus: DataFrame, eps: Double = 0.05,
      nCells: Int = 256, seed: Long = 42L): DataFrame = {
    require(eps > 0 && eps < 1, "eps must be in (0, 1)")
    val dupIds = cellDupIds(incoming, idCol, vecCol, cellCorpus, eps, nCells, seed)
      .localCheckpoint(true)
    incoming.join(dupIds, Seq(idCol), "left_anti")
  }

  /** The probe behind [[semanticDedupAgainstTable]] — package-visible
    * un-checkpointed so specs can assert the join's physical plan. */
  private[graft] def cellDupIds(
      incoming: DataFrame, idCol: String, vecCol: String,
      cellCorpus: DataFrame, eps: Double,
      nCells: Int, seed: Long): DataFrame = {
    val t = 1.0 - eps
    // exactly (cell, <id>, vec) — an extra column would make the id
    // inference silently pick the wrong one, so reject it
    val corpusIdCol = cellCorpus.columns.filterNot(Set("cell", "vec")) match {
      case Array(id) if cellCorpus.columns.length == 3 => id
      case _ => throw new IllegalArgumentException(
        "not a cell-vector table (want exactly cell, <id>, vec): " +
          cellCorpus.columns.mkString(","))
    }
    val inc = cellKeyed(incoming, idCol, vecCol, nCells, seed)
      .withColumnRenamed(idCol, "__idI")
      .withColumnRenamed("vec", "__vI")
    val cor = cellCorpus.select(col("cell"),
      col(corpusIdCol).as("__idC"), col("vec").as("__vC"))
    inc.join(cor, Seq("cell"))
      .filter(Similarity.cosine(col("__vI"), col("__vC")) >= t)
      .select(col("__idI").as(idCol)).distinct()
  }

  /** `(cell, idCol, vec)` of the provably-comparable rows — the
    * shared keying behind the cell-vector state table and its probe;
    * delegates bucketing and comparability to the ONE definition in
    * [[Dedup.semanticCell]]/[[Dedup.semanticComparable]]. */
  private def cellKeyed(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, seed: Long): DataFrame = {
    val vd = col(vecCol).cast("array<double>")
    df.filter(Dedup.semanticComparable(vd))
      .select(Dedup.semanticCell(vd, nCells, seed).as("cell"),
        col(idCol), vd.as("vec"))
  }

  /** Explode a `(idCol, __sig)` signature frame into banded collision
    * rows `(band, bucket, idCol, sig)` keyed by [[Dedup.minhashBandKeys]].
    * Package-visible so the q106 oracle export can materialize the
    * incoming side's banded keying for the DuckDB replay. */
  private[graft] def banded(sigDf: DataFrame, idCol: String, bands: Int, r: Int): DataFrame =
    sigDf.select(col(idCol), col("__sig"),
        Dedup.minhashBandKeys(col("__sig"), bands, r).as("__b"))
      .select(col("__b.band").as("band"), col("__b.bucket").as("bucket"),
        col(idCol), col("__sig").as("sig"))

  // ---- Seen-gram state: incremental n-gram novelty ----------------

  /** Novelty state: ONE row per distinct word-n-gram digest ever
    * ingested (the "seen set" behind
    * [[Stats.ngramNovelty]]'s recurring form), bucketed + sorted by
    * the 128-bit digest pair so every batch probe joins the corpus
    * side bucket-aligned with no corpus shuffle. At 100 TB the seen
    * set is corpus-scale (grams ≫ documents) — exactly the relation
    * the `bucketBy` layout exists for. */
  def writeGramTable(corpus: DataFrame, textCol: Column, n: Int,
      table: String, path: String, numBuckets: Int = 64): Unit =
    writeBucketed(
      gramKeys(corpus.select(textCol.as("__t")), col("__t"), n)
        .select("__g1", "__g2").distinct(),
      table, Seq("__g1", "__g2"), numBuckets, path = Some(path))

  /** Per-document novelty of a batch against the persisted seen-gram
    * table: `n_new` counts the doc's distinct grams ABSENT from state
    * (anti-join — duplicate-safe even if the state's distinctness
    * invariant were violated), `novelty = n_new / n_grams`, NULL when
    * the doc has fewer than `n` words. Gram distinctness is per
    * DOCUMENT ((id, digest)-level distinct), so a batch carrying the
    * same id on several rows counts each gram once and reports one
    * row per id. Two batch-side passes over the gram stream (the
    * per-doc total aggregates by id, the probe joins by digest —
    * different partitionings, both batch-sized); the state side is
    * read bucket-aligned and never shuffled. */
  def noveltyAgainstTable(batch: DataFrame, idCol: String, textCol: Column,
      n: Int, seenGrams: DataFrame): DataFrame = {
    // distinct over (id, digest pair): duplicate-id batch rows — the
    // exact input a recurring crawl produces — must not double-count
    val grams = gramKeys(batch.select(col(idCol), textCol.as("__t")),
      col("__t"), n).drop("__t").distinct()
    val perDoc = grams.groupBy(idCol).agg(count(lit(1)).as("n_grams"))
    val fresh = grams
      .join(seenGrams.select(col("__g1"), col("__g2")),
        Seq("__g1", "__g2"), "left_anti")
      .groupBy(idCol).agg(count(lit(1)).as("n_new"))
    batch.select(col(idCol)).distinct()
      .join(perDoc, Seq(idCol), "left")
      .join(fresh, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        // NULL n_new means "has grams, none new" (empty anti-join
        // group), which must read 0 — not propagate NULL novelty
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        when(col("n_grams") > 0,
          round(coalesce(col("n_new"), lit(0L)) * lit(1.0) /
            col("n_grams"), 6)).as("novelty"))
  }

  /** Grow the seen-gram state by a batch: append only the grams NOT
    * already in state (anti-join before the append preserves the
    * one-row-per-gram invariant `noveltyAgainstTable` does not need
    * but state size does), with the SAME bucket spec so the table
    * stays probe-aligned. Shuffle bounded by batch gram count. */
  def appendGrams(batch: DataFrame, textCol: Column, n: Int,
      seenGrams: DataFrame, table: String, numBuckets: Int = 64): Unit =
    writeBucketed(
      gramKeys(batch.select(textCol.as("__t")), col("__t"), n)
        .select("__g1", "__g2").distinct()
        .join(seenGrams.select(col("__g1"), col("__g2")),
          Seq("__g1", "__g2"), "left_anti"),
      table, Seq("__g1", "__g2"), numBuckets, SaveMode.Append)

  // ---- Winnowing fingerprint state: recurring overlap detection ---

  /** Near-verbatim-overlap state: the corpus's winnowing fingerprints
    * ([[Winnow.fingerprints]] — any shared ≥ k+w−1-word run shares
    * one) as distinct `(fp, corpus_id)` postings, bucketed + sorted
    * by the LONG fingerprint so every batch probe joins the corpus
    * side bucket-aligned. Fingerprints seen in more than `maxDf`
    * corpus documents (boilerplate) are excluded AT BUILD TIME — the
    * q130 stop-fingerprint guardrail moved into the state itself, so
    * no probe can ever hit a quadratic posting. */
  def writeFingerprintTable(corpus: DataFrame, idCol: String,
      textCol: Column, table: String, path: String,
      k: Int = 4, w: Int = 4, maxDf: Long = 64,
      numBuckets: Int = 64): Unit = {
    val fp = Winnow.fingerprints(corpus, idCol, textCol, k, w)
      .select(col("fp"), col(idCol).as("corpus_id")).distinct()
    val keep = fp.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("fp")
    writeBucketed(fp.join(keep, Seq("fp")), table, Seq("fp"), numBuckets,
      path = Some(path))
  }

  /** Which corpus documents does each batch document near-verbatim
    * overlap? Batch fingerprints join the persisted posting table on
    * the long fp (state side bucket-aligned, zero corpus shuffle);
    * pairs sharing at least `minShared` distinct fingerprints
    * survive. `(k, w)` must match the table's. The recurring form of
    * [[Winnow.overlapPairs]]: "does this crawl batch re-serve
    * anything we already hold?" at batch cost, not corpus cost. */
  def overlapAgainstTable(batch: DataFrame, idCol: String,
      textCol: Column, fpTable: DataFrame,
      k: Int = 4, w: Int = 4, minShared: Long = 2): DataFrame =
    Winnow.fingerprints(batch, idCol, textCol, k, w)
      .select(col(idCol), col("fp")).distinct()
      .join(fpTable.select(col("fp"), col("corpus_id")), Seq("fp"))
      .groupBy(col(idCol), col("corpus_id"))
      // DISTINCT fps, not join rows: duplicate-safe should the state's
      // posting invariant ever be violated (same defense as
      // noveltyAgainstTable's anti-join)
      .agg(countDistinct(col("fp")).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)

  /** Grow the fingerprint state by an accepted batch with the SAME
    * bucket spec, anti-joined against existing state first so the
    * distinct (fp, corpus_id) posting invariant survives retried
    * append jobs and re-crawled already-absorbed documents (the
    * [[appendGrams]] discipline). NOTE the honest cap caveat: the
    * build-time `maxDf` exclusion is NOT re-evaluated across appends —
    * a fingerprint can drift past the cap as batches accumulate.
    * Probes stay correct (just less bounded); rebuild the table
    * periodically (the cheap corpus-side pass) to re-apply the cap,
    * exactly like re-running compaction. */
  def appendFingerprints(batch: DataFrame, idCol: String,
      textCol: Column, fpTable: DataFrame, table: String,
      k: Int = 4, w: Int = 4, numBuckets: Int = 64): Unit =
    writeBucketed(
      Winnow.fingerprints(batch, idCol, textCol, k, w)
        .select(col("fp"), col(idCol).as("corpus_id")).distinct()
        .join(fpTable.select(col("fp"), col("corpus_id")),
          Seq("fp", "corpus_id"), "left_anti"),
      table, Seq("fp"), numBuckets, SaveMode.Append)

  /** The corpus fingerprint set as a broadcastable Bloom, CARRYING
    * the (k, w) it was hashed with so a consumer can never probe it
    * with mismatched winnowing parameters (a k=3 Bloom probed with
    * k=4 fingerprints matches nothing and silently passes every
    * duplicate). */
  case class CorpusFingerprints(
      bloom: org.apache.spark.util.sketch.BloomFilter, k: Int, w: Int)

  /** Bloom filter over the fingerprint state's `fp` column — the
    * broadcast form of the corpus fingerprint set for the stateless
    * streaming overlap gate ([[graft.streaming.StreamOps
    * .overlapGateStream]]). `k`/`w` MUST be the values the posting
    * table was built with ([[writeFingerprintTable]]); the returned
    * [[CorpusFingerprints]] carries them so the gate hashes
    * identically by construction. Bloom error is one-sided toward
    * over-FLAGGING (a false positive claims a fingerprint was seen —
    * review-queue noise at ~fpp); the clean-pass guarantee is exactly
    * as strong as the posting table: fingerprints the build's `maxDf`
    * cap excluded (ubiquitous boilerplate runs) are absent here too,
    * so overlap carried ONLY by capped fingerprints passes — the same
    * documented cap caveat as [[writeFingerprintTable]], not a new
    * gate weakness. */
  def fingerprintBloom(fpTable: DataFrame, k: Int = 4, w: Int = 4,
      fpp: Double = 1e-6): CorpusFingerprints = {
    // one distinct pass shared by the sizing count and the filter
    // build (the cache-then-unpersist discipline — unpersisted this
    // would scan + shuffle the posting table twice)
    val keys = fpTable.select(col("fp")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try CorpusFingerprints(
      keys.stat.bloomFilter("fp", math.max(keys.count(), 1L), fpp), k, w)
    finally keys.unpersist(blocking = false)
  }

  /** Bloom filter over the seen-gram state's primary digest (`__g1`
    * — `xxhash64(gram)`, the key [[graft.streaming.StreamOps
    * .noveltyGateStream]] recomputes per incoming doc): the broadcast
    * form of the seen set for stateless online gating, ~3.6
    * bytes/gram at fpp=1e-6 against 16 for the digest pair. Built
    * distributed (`stat.bloomFilter` aggregates per partition); the
    * error is one-sided in the CONSERVATIVE direction for a novelty
    * gate — false positives claim a new gram was already seen, so
    * estimated novelty can only be under-reported and stale content
    * can never masquerade as fresh. */
  def gramBloom(seenGrams: DataFrame, fpp: Double = 1e-6):
      org.apache.spark.util.sketch.BloomFilter = {
    // persist for the same reason as fingerprintBloom: the sizing
    // count and the filter build otherwise scan the state twice
    val keys = seenGrams.select(col("__g1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try keys.stat.bloomFilter("__g1", math.max(keys.count(), 1L), fpp)
    finally keys.unpersist(blocking = false)
  }

  /** Incremental Naive-Bayes classifier state: the corpus's per-token
    * class counts ([[Classifier.tokenClassCounts]]) persisted as an
    * APPEND-ONLY COUNT LOG bucketed + bucket-sorted by `token`. Counts
    * are the mergeable form of the classifier — sums of longs — so
    * growing the model by a labeled batch is [[appendNbCounts]] (one
    * batch-sized write), and deriving the current dictionary is
    * [[nbDictFromTable]], whose token-keyed merge aggregation runs
    * BUCKET-LOCAL with zero exchange: retraining cost is the
    * vocabulary-sized state, never the corpus. `nbDictFromTable`
    * after N appends is provably identical to [[Classifier.nbTrain]]
    * over the union of all batches (q139 hash-checks exactly that
    * equivalence against a from-scratch SQL retrain).
    *
    * Contract: this is a LOG, so a blind re-append of the same batch
    * would double-count it. The exactly-once guarantee is IN THE
    * DATA: every row carries the append's `batch_id`, and
    * [[appendNbCounts]] anti-checks the log for that id before
    * writing — a replayed wave (stream restart, retried orchestrator
    * step) is a detected NO-OP, not a silent double count, with no
    * side ledger that could desynchronize from the rows it guards
    * (the foreachBatch txn pattern the tombstone tables use). Passing
    * `batchId = null` opts out (the pre-ledger behavior). The log
    * grows one vocabulary-row block per append; [[compactNbCounts]]
    * folds it back to one row per token (blue/green, like
    * [[compactState]]) while PRESERVING applied batch ids as
    * zero-count marker rows, so replays stay no-ops across
    * compactions. */
  def writeNbCounts(docs: DataFrame, textCol: Column, labelCol: Column,
      table: String, path: String, numBuckets: Int = 64,
      batchId: String = null): Unit =
    writeBucketed(
      Classifier.tokenClassCounts(docs, textCol, labelCol)
        .withColumn("batch_id", lit(batchId).cast("string")),
      table, Seq("token"), numBuckets, path = Some(path))

  /** Grow the NB count log by one labeled batch — same bucket spec as
    * [[writeNbCounts]]. Returns true when the batch was applied,
    * false when `batchId` was already in the log (replay no-op). */
  def appendNbCounts(batch: DataFrame, textCol: Column, labelCol: Column,
      table: String, numBuckets: Int = 64,
      batchId: String = null): Boolean = {
    if (batchAlreadyApplied(batch.sparkSession, table, batchId))
      return false
    writeBucketed(
      alignToLedgerSchema(batch.sparkSession, table,
        Classifier.tokenClassCounts(batch, textCol, labelCol)
          .withColumn("batch_id", lit(batchId).cast("string"))),
      table, Seq("token"), numBuckets, SaveMode.Append)
    true
  }

  /** A count log written BEFORE the ledger column existed has no
    * `batch_id` — appending a stamped frame into it would fail the
    * schema check, so the column is dropped and the append proceeds
    * exactly as pre-ledger code did (no replay protection on that
    * table until it is re-written/compacted by a ledger-aware
    * version, which adds the column). */
  private def alignToLedgerSchema(
      spark: org.apache.spark.sql.SparkSession, table: String,
      df: DataFrame): DataFrame =
    if (spark.catalog.tableExists(table) &&
        !spark.table(table).columns.contains("batch_id"))
      df.drop("batch_id")
    else df

  /** True iff `table` exists, carries the idempotence column, and
    * already holds a row stamped `batchId` — the replay detector
    * shared by every count-log append. `limit(1)` bounds the probe;
    * logs written before the column existed (or null batch ids)
    * never match, preserving the pre-ledger behavior (the append
    * side drops the column for such tables — see
    * [[alignToLedgerSchema]]).
    *
    * SINGLE-WRITER CONTRACT: this is check-then-append, not a lock —
    * two CONCURRENT appenders of the same `batchId` can both pass the
    * probe and double-count. The guarded shapes are SERIAL replays
    * (a restarted stream's foreachBatch, a retried orchestrator
    * step), where one append per log is in flight at a time; a
    * multi-writer deployment must serialize appends per log table
    * externally (a warehouse lock or a single-threaded committer). */
  private def batchAlreadyApplied(
      spark: org.apache.spark.sql.SparkSession, table: String,
      batchId: String): Boolean =
    batchId != null && spark.catalog.tableExists(table) && {
      val t = spark.table(table)
      t.columns.contains("batch_id") &&
        t.filter(col("batch_id") === batchId).limit(1).count() > 0
    }

  /** The CURRENT `(token, llr)` dictionary from the persisted count
    * log: bucket-local merge of the per-append count blocks (zero
    * token-keyed exchange — the scan is bucketed on `token`), then
    * [[Classifier.dictFromCounts]]. Equal to a from-scratch
    * [[Classifier.nbTrain]] over every appended batch. Null-token
    * rows are compaction's batch-id markers, not counts — excluded. */
  def nbDictFromTable(countLog: DataFrame): DataFrame =
    Classifier.dictFromCounts(
      countLog.filter(col("token").isNotNull).groupBy("token")
        .agg(sum("cpos").as("cpos"), sum("cneg").as("cneg")))

  /** Fold the count log back to one row per token into a NEW
    * (table, path) — blue/green like [[compactState]]; bounds the
    * per-dictionary-derivation merge work after many appends.
    * Applied batch ids survive as `(null, 0, 0, batch_id)` marker
    * rows so a replayed pre-compaction wave is still a no-op. */
  def compactNbCounts(countLog: DataFrame, table: String, path: String,
      numBuckets: Int = 64): Unit = {
    val hasIds = countLog.columns.contains("batch_id")
    val folded0 = countLog.filter(col("token").isNotNull)
      .groupBy("token")
      .agg(sum("cpos").as("cpos"), sum("cneg").as("cneg"))
    val folded =
      if (hasIds) {
        val markers = countLog.select(col("batch_id"))
          .filter(col("batch_id").isNotNull).distinct()
          .select(lit(null).cast("string").as("token"),
            lit(0L).as("cpos"), lit(0L).as("cneg"), col("batch_id"))
        folded0.withColumn("batch_id", lit(null).cast("string"))
          .unionByName(markers)
      } else folded0
    writeBucketed(folded, table, Seq("token"), numBuckets, path = Some(path))
  }

  // ---- Retrieval-index state: incremental BM25 --------------------

  /** Inverted-index state for recurring BM25 search
    * ([[Retrieval.bm25TopK]]'s incremental complement): one posting
    * row per (term, document) — `(term, <idCol>, tf, dl)` — bucketed +
    * bucket-sorted by `term`. The serving shape at 100 TB: a query
    * probe filters the postings by its terms, so the bucketed layout
    * gives BUCKET PRUNING at the scan (only the terms' buckets are
    * read — `SelectedBucketsCount` in the plan) and the per-term
    * document-frequency aggregation runs bucket-local with zero
    * exchange; the corpus text is never tokenized again. Growing the
    * index by a crawled batch is [[appendPostings]] — one batch-sized
    * tokenize + write; postings from disjoint-id batches are disjoint
    * rows, so the union of appends IS the index of the unioned corpus
    * (q140 hash-checks probe-after-append ≡ from-scratch
    * [[Retrieval.bm25TopK]] against the q54 oracle).
    *
    * Contracts: batches must carry NEW document ids (re-appending a
    * doc duplicates its postings and inflates tf/df — the same
    * exactly-once contract as the NB count log [[writeNbCounts]];
    * gate re-crawls with [[exactDedupAgainstTable]] first). Takedown
    * composes: postings are id-carrying, so
    * [[compactState]]`(postings, idCol, tombstones, bucketCols =
    * Seq("term"))` removes a retracted doc's postings physically —
    * but the stats log ([[writeIndexStats]]) still counts the removed
    * docs; rebuild it from the retained corpus (one agg scan) when
    * retraction volume starts to matter for ranking. */
  def writePostings(corpus: DataFrame, idCol: String, textCol: Column,
      table: String, path: String, numBuckets: Int = 64): Unit =
    writeBucketed(postingRows(corpus, idCol, textCol), table, Seq("term"),
      numBuckets, path = Some(path))

  /** Grow the posting state by one batch of NEW documents — same
    * bucket spec as [[writePostings]]; see the new-ids contract there. */
  def appendPostings(batch: DataFrame, idCol: String, textCol: Column,
      table: String, numBuckets: Int = 64): Unit =
    writeBucketed(postingRows(batch, idCol, textCol), table, Seq("term"),
      numBuckets, SaveMode.Append)

  /** Corpus-stats side of the index: an append-only ONE-ROW-PER-BATCH
    * log `(n_docs, sum_dl, batch_id)` — the mergeable form of BM25's
    * global N/avgdl (sums of longs, like the NB count log). Deriving
    * the current stats is a log-sized aggregate; null-text docs count
    * as length 0, exactly as [[Retrieval.bm25TopK]] counts them.
    * `batch_id` is the in-data idempotence key ([[writeNbCounts]]'
    * contract): [[appendIndexStats]] detects a replayed wave and
    * no-ops instead of inflating N/avgdl. */
  def writeIndexStats(corpus: DataFrame, textCol: Column,
      table: String, path: String, batchId: String = null): Unit =
    writeBucketed(
      indexStatsRow(corpus, textCol)
        .withColumn("batch_id", lit(batchId).cast("string")),
      table, Nil, 0, path = Some(path))

  /** Append one batch's `(n_docs, sum_dl)` row — same exactly-once
    * mechanism as [[appendNbCounts]]: returns false (no write) when
    * `batchId` already stamped a log row. The posting side of a
    * replayed wave is gated upstream (new-ids contract /
    * [[exactDedupAgainstTable]]); this closes the stats side. */
  def appendIndexStats(batch: DataFrame, textCol: Column,
      table: String, batchId: String = null): Boolean = {
    if (batchAlreadyApplied(batch.sparkSession, table, batchId))
      return false
    writeBucketed(
      alignToLedgerSchema(batch.sparkSession, table,
        indexStatsRow(batch, textCol)
          .withColumn("batch_id", lit(batchId).cast("string"))),
      table, Nil, 0, SaveMode.Append)
    true
  }

  /** Rebuild the BM25 stats log from RETAINED postings — the takedown
    * epilogue: after [[compactState]] removes a retracted doc's
    * posting rows, the append-only stats log still counts it (N and
    * avgdl drift high), so rewrite the log as ONE row derived from
    * what the index actually still holds. One agg scan over the
    * posting table (distinct (doc, dl) pairs — `dl` rides every
    * posting of its doc), never the corpus text: at 100 TB the
    * posting state is the cheap relation and the retained corpus is
    * the expensive one.
    *
    * Contract caveat, stated once and pinned by its spec: a document
    * with ZERO tokens has no postings, so a from-postings rebuild
    * cannot count it — [[writeIndexStats]] over the corpus counts it
    * as length 0. Such documents also can never match a query term,
    * so the drift is one count in N per empty doc; rebuild from the
    * corpus instead when empty docs are material to ranking. */
  def rebuildIndexStats(postings: DataFrame, idColName: String,
      table: String, path: String,
      priorStats: DataFrame = null): Unit = {
    require(postings.columns.toSet == Set("term", idColName, "tf", "dl"),
      s"not a posting table for id '$idColName' " +
        s"(want term, $idColName, tf, dl): ${postings.columns.mkString(",")}")
    val fresh = postings.select(col(idColName), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"),
        // sum over ZERO rows is NULL — the retract-everything rebuild
        // must still write the (0, 0L) shape writeIndexStats produces,
        // not a null avgdl seed for bm25AgainstIndex
        coalesce(sum(col("dl")).cast("long"), lit(0L)).as("sum_dl"))
      .withColumn("batch_id", lit(null).cast("string"))
    // pass the OLD log as priorStats to carry its applied batch ids
    // across the rebuild as zero-count markers — otherwise a wave
    // replayed after the rebuild would re-append (the ledger is in
    // the rows, so rewriting the rows rewrites the ledger)
    val out = Option(priorStats)
      .filter(_.columns.contains("batch_id"))
      .map(p => fresh.unionByName(
        p.select(col("batch_id")).filter(col("batch_id").isNotNull)
          .distinct()
          .select(lit(0L).as("n_docs"), lit(0L).as("sum_dl"),
            col("batch_id"))))
      .getOrElse(fresh)
    writeBucketed(out, table, Nil, 0, path = Some(path))
  }

  /** Rebuild the winnowing fingerprint state with its `maxDf` cap
    * RE-EVALUATED over the current posting counts — the documented
    * append drift ([[appendFingerprints]]: appends never re-check the
    * cap, so a boilerplate fingerprint can accumulate past it and
    * unbound future probes) turned into one state-sized pass: count
    * df per fp, drop over-cap fps, rewrite bucketed blue/green into a
    * NEW (table, path). No corpus text is touched — at 100 TB the
    * fingerprint state is orders cheaper than re-winnowing.
    *
    * Residual, stated honestly: a fingerprint the ORIGINAL build
    * excluded has no pre-append postings here, so if later appends
    * brought it back under-counted it stays with partial postings
    * (probes over-survive on it — conservative for overlap FLAGGING
    * is the wrong direction, but the magnitude is bounded by append
    * volume). Full fidelity is [[writeFingerprintTable]] over the
    * retained corpus — the corpus-side pass this function exists to
    * avoid on the common cadence. */
  def rebuildFingerprints(fpTable: DataFrame, table: String, path: String,
      maxDf: Long = 64, numBuckets: Int = 64): Unit = {
    require(fpTable.columns.toSet == Set("fp", "corpus_id"),
      s"not a fingerprint posting table (want fp, corpus_id): " +
        fpTable.columns.mkString(","))
    val keep = fpTable.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("fp")
    writeBucketed(fpTable.join(keep, Seq("fp")), table, Seq("fp"),
      numBuckets, path = Some(path))
  }

  /** FULL-FIDELITY fingerprint rebuild: re-winnow the RETAINED corpus
    * (corpus minus tombstones) from text — [[writeFingerprintTable]]'s
    * from-scratch semantics as a first-class takedown-cadence
    * operator, closing [[rebuildFingerprints]]' documented residual:
    * a fingerprint the ORIGINAL build excluded but later appends
    * re-admitted under-counted keeps partial postings in the cheap
    * state-sized rebuild; here df re-evaluates over the retained
    * corpus, so such fingerprints re-exclude (or carry their full
    * postings) — post-rebuild table ≡ a fresh build over retained,
    * which q155's oracle hash-checks end to end. Corpus-sized by
    * design (one winnowing pass + one df aggregate): the cadence
    * trade against the state-sized [[rebuildFingerprints]] is the
    * point — run THIS one when takedowns or append drift make
    * posting fidelity material. 100 TB shape: identical to the
    * original build — text never crosses an exchange (8-byte
    * md5-prefix fingerprints do), df is a long-key aggregate, and
    * the output is the same bucketed blue/green table every probe
    * streams aligned from disk. */
  def rebuildFingerprintsFromCorpus(corpus: DataFrame, idCol: String,
      textCol: Column, tombstones: DataFrame, table: String,
      path: String, k: Int = 4, w: Int = 4, maxDf: Long = 64,
      numBuckets: Int = 64): Unit =
    writeFingerprintTable(retractIds(corpus, idCol, tombstones), idCol,
      textCol, table, path, k, w, maxDf, numBuckets)

  /** Top-k BM25 against the persisted index — identical output to
    * [[Retrieval.bm25TopK]] over the union of every appended batch
    * (`(idCol, bm25_score)`, score rounded to 4 decimals, ordered by
    * (score desc, id asc)), but the probe never touches corpus text:
    * the postings scan is bucket-PRUNED to the query's terms, the
    * per-term df aggregate is bucket-local (zero exchange), global
    * stats fold the log, and the only data-sized exchange is the
    * hit-proportional per-doc score aggregation. The filtered
    * postings are scanned twice (df + score) — both reads are pruned
    * to the same |terms| buckets. Parameters (k1, b) are free at
    * probe time; the tokenization is fixed at build time. */
  def bm25AgainstIndex(postings: DataFrame, statsLog: DataFrame,
      idColName: String, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // exactly (term, <id>, tf, dl) — reject anything else rather than
    // silently scoring the wrong column (the cellDupIds discipline)
    require(postings.columns.toSet == Set("term", idColName, "tf", "dl"),
      s"not a posting table for id '$idColName' " +
        s"(want term, $idColName, tf, dl): ${postings.columns.mkString(",")}")
    val stats = statsLog.agg(
      sum(col("n_docs")).as("__n"),
      // integer-valued double sums are exact below 2^53, so this
      // equals bm25TopK's avg() bit-for-bit at any realistic scale
      (sum(col("sum_dl")) * lit(1.0) / sum(col("n_docs"))).as("__avgdl"))
    val hits = postings
      .filter(col("term").isin(queryTerms.map(t => t: Any): _*))
    // df = posting rows per term (one row per (term, doc) by the
    // new-ids contract): bucket-local agg, ≤ |queryTerms| rows out
    val df = hits.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val idf = log(lit(1.0) +
      (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    val tfNorm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("__avgdl")))
    hits.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col(idColName))
      .agg(round(sum(idf * tfNorm), 4).as("bm25_score"))
      .orderBy(desc("bm25_score"), col(idColName))
      .limit(k)
  }

  /** `(term, <idCol>, tf, dl)` posting rows — the same token identity
    * as [[Retrieval.bm25TopK]] ([[Retrieval.wordTokens]]); `dl` rides
    * every posting of its doc so probes never join a doc-length
    * table. Null/empty texts yield no postings (they still count in
    * the stats log). */
  private def postingRows(df: DataFrame, idCol: String, textCol: Column): DataFrame =
    df.select(col(idCol), Retrieval.wordTokens(textCol).as("__toks"))
      .select(col(idCol), size(col("__toks")).as("__dl"),
        explode(col("__toks")).as("term"))
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("tf"), min(col("__dl")).as("dl"))

  private def indexStatsRow(df: DataFrame, textCol: Column): DataFrame =
    df.agg(count(lit(1)).as("n_docs"),
      sum(coalesce(size(Retrieval.wordTokens(textCol)), lit(0))
        .cast("long")).as("sum_dl"))

  // --------------------------------------------------------------
  // Persisted Hamming-signature state: the incremental form for EVERY
  // 64-bit signature family — image dHash (q141), audio eHash (q143),
  // text SimHash (q72) — one state layout, one probe.
  // --------------------------------------------------------------

  /** Pigeonhole band rows of a 64-bit signature under the
    * [[graft.functions.Bits.bandRows]] layout. Rows: `(<keyCols...>,
    * band INT, bucket BIGINT, <idCol>, sig BIGINT)`; null signatures
    * (undecoded media) produce no rows. `keyCols` (e.g. `frame_pos`
    * for the positional video family) ride the band key — ONE
    * definition serves the flat and positional state families. */
  private def hammingBanded(df: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, probe: Boolean,
      keyCols: Seq[String] = Nil): DataFrame = {
    val missing = keyCols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"signature frame lacks key column(s) ${missing.mkString(",")}: " +
        df.columns.mkString(","))
    val keys = keyCols.map(col)
    val sigs = df.select((keys :+ col(idCol) :+ col(sigCol).cast("long").as("sig")): _*)
      .filter(col("sig").isNotNull)
    graft.functions.Bits.bandRows(sigs, "sig", maxHamming, probe, keyCols :+ idCol :+ "sig")
      .select((keys :+ col("band") :+ col("bucket") :+ col(idCol) :+ col("sig")): _*)
  }

  /** Shared write/append bodies for the flat (`keyCols = Nil`) and
    * positional (`keyCols = Seq("frame_pos")`) state families — one
    * banding, one meta-union, one bucket spec. */
  private def writeHammingStateKeyed(corpus: DataFrame, idCol: String,
      sigCol: String, table: String, path: String, maxHamming: Int,
      numBuckets: Int, keyCols: Seq[String],
      grid: Int, sharded: Boolean = false,
      signer: Option[String] = None): Unit = {
    val meta = keyCols.foldLeft(
        hammingMeta(corpus.sparkSession, idCol,
          corpus.schema(idCol).dataType, maxHamming, grid, sharded,
          signer))(
      (m, k) => m.withColumn(k, lit(null).cast(corpus.schema(k).dataType)))
    writeBucketed(
      hammingBanded(corpus, idCol, sigCol, maxHamming, probe = false, keyCols)
        .unionByName(meta),
      table, keyCols ++ Seq("band", "bucket"), numBuckets, path = Some(path))
    // an overwrite may have changed the layout under a memoized name
    hammingMetaMemo.clear()
  }

  private def appendHammingStateKeyed(batch: DataFrame, idCol: String,
      sigCol: String, table: String, maxHamming: Int, numBuckets: Int,
      keyCols: Seq[String], caller: String,
      grid: Int, sharded: Boolean = false,
      signer: Option[String] = None): Unit = {
    validateHammingMeta(batch.sparkSession.table(table), maxHamming,
      caller, grid, sharded, signer)
    writeBucketed(
      hammingBanded(batch, idCol, sigCol, maxHamming, probe = false, keyCols),
      table, keyCols ++ Seq("band", "bucket"), numBuckets, SaveMode.Append)
  }

  /** Reserved band id of the one `_meta` row every Hamming state
    * table carries (see [[hammingMeta]]): real band tags are
    * `32 + b < 64` ([[graft.functions.Bits.LayoutV1Tag]]), so the
    * meta row can never collide with a probe's join key. */
  private[graft] val HammingMetaBand = 255

  /** The `_meta` payload, packed into the row's `bucket` (and,
    * redundantly, `sig`): sampling grid in bits 48..63 (the
    * `everyNth` stride for positional states — grid IS layout
    * identity, a different stride renumbers `frame_pos`; 0 for
    * unkeyed states), shard flag in 40..47 (1 when the state rows
    * carry a `shard` join-key column — shardedness is layout
    * identity too: a shardless probe against sharded rows, or the
    * reverse, silently matches nothing), layout version in 32..39,
    * `maxHamming` in 16..31, `nBands` in 0..15. Tables written
    * before the shard flag existed have zeros in 40..47 and read
    * back as unsharded version-1 — no migration. */
  private def packHammingMeta(maxHamming: Int,
      grid: Int, sharded: Boolean): Long =
    (grid.toLong << 48) | ((if (sharded) 1L else 0L) << 40) | (1L << 32) |
      (maxHamming.toLong << 16) | graft.functions.Bits.joinBands(maxHamming).toLong

  /** 64-bit signer-identity tag from a DECLARED signer name (FNV-1a
    * over the UTF-8 bytes, finalized with mix64 — deterministic
    * across JVMs). The name is a contract string like
    * `"image-dhash64-v1"`: two states are signature-comparable iff
    * their names match, which is exactly what the `_meta` row
    * enforces. The tag can never equal the packed layout word a
    * legacy/unsigned meta row carries in `sig` (that word mirrors
    * `bucket`; the 2⁻⁶⁴ collision flips a bit). */
  def signerTag(name: String): Long = {
    var h = 0xcbf29ce484222325L
    name.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      h = (h ^ (b & 0xFFL)) * 0x100000001b3L
    }
    graft.functions.Bits.mix64(h)
  }

  /** The one-row `_meta` companion rides INSIDE the state table (band
    * [[HammingMetaBand]], null id) rather than in a sidecar file, so
    * it survives every path a state table travels — `SaveMode.Append`
    * growth, [[compactState]] blue/green rewrites (a null id never
    * matches a tombstone), table renames — and a probe can validate
    * any state DataFrame without knowing its table name or location.
    * Reading it back is a band-filtered scan parquet row-group stats
    * reduce to the meta row's file (every data file's band range is
    * below [[HammingMetaBand]]).
    *
    * The meta row's `sig` field carries the SIGNER TAG when the write
    * declared one ([[signerTag]] of the signer name); an unsigned
    * write mirrors `bucket` into `sig` (the legacy shape), which
    * readers interpret as "no declared signer". */
  private def hammingMeta(spark: org.apache.spark.sql.SparkSession,
      idCol: String, idType: org.apache.spark.sql.types.DataType,
      maxHamming: Int, grid: Int,
      sharded: Boolean = false,
      signer: Option[String] = None): DataFrame = {
    val packed = packHammingMeta(maxHamming, grid, sharded)
    val sigWord = signer.map { n =>
      val t = signerTag(n)
      if (t == packed) t ^ 1L else t // never collide with "unsigned"
    }.getOrElse(packed)
    spark.range(1).select(
      lit(HammingMetaBand).as("band"),
      lit(packed).as("bucket"),
      lit(null).cast(idType).as(idCol),
      lit(sigWord).as("sig"))
  }

  /** Validate a state frame's `_meta` against the band layout a
    * caller is about to probe or append with. The failure mode this
    * closes is SILENT: different strides gather different buckets, so
    * a probe issued at a band layout other than the write's (another
    * `maxHamming`, or a table written at another band count) would
    * simply match nothing — false negatives in a dedup
    * or compliance gate. Refuses (loudly) tables with no meta row:
    * both pre-layout-v1 contiguous tables and pre-meta strided tables
    * must be rebuilt once with [[writeHammingState]]. */
  /** Per-session memo of `_meta` validations: the validating read is
    * a driver-blocking filter+distinct+collect, and a recurring wave
    * loop re-pays it per append AND per probe on the same table. The
    * key pairs the state's ANALYZED-plan semantic hash with the exact
    * packed expectation, so a caller switching parameters always
    * revalidates; every state-table (over)write in this JVM clears
    * the memo (see [[writeHammingStateKeyed]]). Out-of-process
    * rewrites are invisible to it — after one, call
    * [[invalidateHammingMetaCache]] (the `REFRESH TABLE` analog). */
  private val hammingMetaMemo =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Long)]()

  /** Drop every memoized `_meta` validation (needed only when a state
    * table was rebuilt by ANOTHER process mid-session). */
  def invalidateHammingMetaCache(): Unit = hammingMetaMemo.clear()

  /** Rebuild-time signer guard: refuse when `state`'s `_meta` row was
    * signed under a DIFFERENT signer name than `signerName`. The
    * failure this closes is silent and unrecoverable-after-the-fact:
    * a wrong-but-still-decoding signer on a state REBUILD writes
    * incomparable signatures that every later probe joins against
    * and matches nothing. Unsigned (pre-signer) states accept any
    * declared name — the rebuild ADOPTS it. One metadata-sized read. */
  def requireSigner(state: DataFrame, signerName: String,
      caller: String): Unit = {
    val rows = state.filter(col("band") === HammingMetaBand)
      .select(col("bucket"), col("sig")).distinct().limit(2).collect()
    if (rows.length != 1) return // no/ambiguous meta: the full
    // validation on the next write/probe owns that refusal
    val (packed, stored) = (rows(0).getLong(0), rows(0).getLong(1))
    require(stored == packed || stored == signerTag(signerName) ||
        stored == (signerTag(signerName) ^ 1L),
      s"$caller: state table was signed under a DIFFERENT signer than " +
        s"'$signerName' — rebuilding across signers writes incomparable " +
        "signatures that silently match nothing; pass the signer the " +
        "state was written with (check the ingestion loop's signerName)")
  }

  private def validateHammingMeta(state: DataFrame, maxHamming: Int,
      caller: String, grid: Int,
      sharded: Boolean = false,
      signer: Option[String] = None): Unit = {
    val nBands = graft.functions.Bits.joinBands(maxHamming)
    val memoKey = (state.queryExecution.analyzed.semanticHash(),
      packHammingMeta(maxHamming, grid, sharded) ^
        signer.map(signerTag).getOrElse(0L))
    if (hammingMetaMemo.contains(memoKey)) return
    val rows = state.filter(col("band") === HammingMetaBand)
      .select(col("bucket"), col("sig")).distinct().limit(3).collect()
    require(rows.length == 1,
      if (rows.isEmpty)
        s"$caller: Hamming state table carries no _meta row — it was " +
          "written under a pre-self-describing layout; rebuild it with " +
          "writeHammingState"
      else
        s"$caller: Hamming state table carries ${rows.length} conflicting " +
          "_meta rows — mixed-layout appends corrupted it; rebuild with " +
          "writeHammingState")
    val packed = rows(0).getLong(0)
    // signer check first: a cross-signer state makes every other
    // layout field moot (the signatures themselves are incomparable)
    val storedSig = rows(0).getLong(1)
    if (storedSig != packed) signer match { // state IS signed
      case Some(n) =>
        require(storedSig == signerTag(n) ||
            storedSig == (signerTag(n) ^ 1L),
          s"$caller: state table was written under a DIFFERENT signer " +
            s"than '$n' — cross-signer signatures are incomparable and " +
            "would silently match nothing; pass the signer the state " +
            "was written with (or rebuild it under this one)")
      case None => () // undeclared probe of a signed state: allowed —
        // generic operators can't know the name; the ingestion loops
        // always declare, which is where wrong-signer rebuilds happen
    }
    // (signed expectation against an UNSIGNED state is allowed too:
    // pre-signer tables read as "no declared signer", no migration)
    val v = ((packed >> 32) & 0xFF).toInt
    val sh = ((packed >> 40) & 0xFF).toInt
    val g = (packed >>> 48).toInt
    val mh = ((packed >> 16) & 0xFFFF).toInt
    val nb = (packed & 0xFFFF).toInt
    require(v == 1, s"$caller: Hamming state layout version $v is not " +
      "supported by this build (expected 1)")
    require((sh == 1) == sharded,
      if (sh == 1)
        s"$caller: state table rows carry a shard join key but the " +
          "call passed no shardCol — a shardless probe/append against " +
          "sharded rows silently matches nothing; pass the shard " +
          "column the state was written with (or rebuild unsharded)"
      else
        s"$caller: called with a shardCol but the state table was " +
          "written UNSHARDED — rebuild it with shardCol to adopt the " +
          "within-shard contract (an unvalidated mix would silently " +
          "match nothing)")
    require(mh == maxHamming && nb == nBands,
      s"$caller: state table was written with (maxHamming=$mh, " +
        s"nBands=$nb) but called with (maxHamming=$maxHamming, " +
        s"nBands=$nBands) — a mismatched band layout silently matches " +
        "nothing; pass the written maxHamming (or rebuild the state)")
    require(g == grid,
      if (g == 0 && grid > 0)
        s"$caller: positional state table carries no sampling grid — " +
          "it was written before the grid rode in _meta; rebuild it " +
          "once with writeFrameHammingState (which persists everyNth)"
      else
        s"$caller: state table was written under sampling grid " +
          s"(everyNth=$g) but called with everyNth=$grid — a different " +
          "stride renumbers frame positions, so position-aligned joins " +
          "silently match nothing; pass the written stride (or rebuild " +
          "the state)")
    hammingMetaMemo.add(memoKey)
  }

  /** Corpus Hamming-signature state: banded rows bucketed + sorted by
    * (band, bucket) — exactly the probe's join key, so recurring
    * batches join without a state-side exchange (the
    * [[writeBandedSignatures]] stance for 64-bit perceptual hashes).
    * `maxHamming` FIXES the band layout at write time; it and the
    * band count it implies are persisted IN the table as a one-row
    * `_meta` companion ([[hammingMeta]]) that [[appendHammingState]]
    * and [[hammingDupIdsAgainstTable]] validate — a divergent call
    * fails loudly instead of silently matching nothing (different
    * strides gather different buckets). The band count is
    * [[graft.functions.Bits.joinBands]] — at budgets ≥ 6 that is the
    * 1-error MULTI-PROBE layout (fewer, WIDER bands; the batch side
    * probes single-bit flips), because the exact `maxHamming + 1`
    * layout's buckets collapse to ≤ 9 bits there and the probe join's
    * candidate mass goes n_state·n_batch·k/2⁹ — quadratic with a fat
    * constant (measured 12× wall at 10× docs). With 12/13-bit buckets
    * the same probe is exact and ~7× leaner, and the flip expansion
    * is linear in the BATCH only. 100 TB shape: state size = nBands
    * rows × 20 B per signature; a billion images at the default
    * budget is ~100 GB of bucketed parquet — probe cost stays
    * batch-sized forever. */
  def writeHammingState(corpus: DataFrame, idCol: String, sigCol: String,
      table: String, path: String, maxHamming: Int = 8,
      numBuckets: Int = 64,
      signer: Option[String] = None): Unit =
    writeHammingStateKeyed(corpus, idCol, sigCol, table, path, maxHamming,
      numBuckets, keyCols = Nil, grid = 0, sharded = false,
      signer = signer)

  /** Grow the Hamming state by a batch — same band layout, same
    * bucket spec as the write's, VALIDATED against the table's
    * `_meta` row before anything is written (a mismatched append
    * would poison the table with rows probes can never reach).
    * Seen-not-kept composes exactly as in
    * [[writeBandedSigs]]: append every signature that was
    * COMPARED, not only survivors, when batch-parity across waves
    * matters. */
  def appendHammingState(batch: DataFrame, idCol: String, sigCol: String,
      table: String, maxHamming: Int = 8, numBuckets: Int = 64,
      signer: Option[String] = None): Unit =
    appendHammingStateKeyed(batch, idCol, sigCol, table, maxHamming,
      numBuckets, keyCols = Nil, caller = "appendHammingState",
      grid = 0, sharded = false, signer = signer)

  /** Batch ids within `maxHamming` bits of ANY state signature:
    * banded batch rows SEMI-join the table on (band, bucket) with the
    * popcount verify as a join predicate — state side bucket-aligned
    * from disk, only the batch shuffles — then distinct ids. EXACT
    * under either layout: a within-budget pair shares an exact band
    * (`maxHamming + 1` bands), or a band with ≤ 1 differing bit that
    * the batch side's single-bit flips reach (the default multi-probe
    * layout at budgets ≥ 6).
    *
    * The SEMI join is load-bearing, not a style choice: the contract
    * is EXISTENCE of a matching state row, and an inner-join +
    * distinct enumerates every match first — when signatures cluster
    * (real corpora do; near-identical content concentrates into a few
    * band buckets) a batch row can match THOUSANDS of state rows and
    * the enumeration is quadratic in the cluster size regardless of
    * band width. The semi join stops each probe row at its first
    * match: measured 229 s → ~4 s on a 75k-batch/75k-state probe
    * whose hit rate was 98%. */
  def hammingDupIdsAgainstTable(batch: DataFrame, idCol: String,
      sigCol: String, state: DataFrame, maxHamming: Int = 8,
      signer: Option[String] = None): DataFrame = {
    require(Set("band", "bucket", "sig").subsetOf(state.columns.toSet) &&
      state.columns.length <= 4,
      s"not a hamming state table (want band, bucket, sig[, <id>]): " +
        state.columns.mkString(","))
    // the _meta row is the layout contract: refuses pre-strided and
    // pre-meta tables AND any probe issued at a band layout other
    // than the write's (one filtered metadata-sized read)
    validateHammingMeta(state, maxHamming, "hammingDupIdsAgainstTable",
      grid = 0, sharded = false, signer = signer)
    val st = state.filter(col("band") =!= HammingMetaBand)
      .select(col("band").as("__hb"), col("bucket").as("__hk"),
        col("sig").as("__ssig"))
    hammingBanded(batch, idCol, sigCol, maxHamming, probe = true)
      .join(st,
        col("band") === col("__hb") && col("bucket") === col("__hk") &&
          bit_count(col("sig").bitwiseXOR(col("__ssig"))) <= maxHamming,
        "left_semi")
      .select(col(idCol)).distinct()
  }

  // --------------------------------------------------------------
  // Positional Hamming state: the persisted form for SEQUENCE
  // modalities — a video clip is its per-sampled-position frame
  // signatures ([[Video.frameSignatures]]), and two clips match when
  // ≥ minFrames positions are pairwise within the Hamming budget
  // ([[Video.clipNearDupPairs]]'s contract). This is q144's layout
  // with the position folded into the key, so a recurring video
  // crawl probes batch-sized state instead of re-running the batch
  // self-join every wave.
  // --------------------------------------------------------------

  /** The positional frame at a canonical `frame_pos` type (int) —
    * bucketBy column types must match between write and append. */
  private def frameCast(df: DataFrame): DataFrame = {
    require(df.columns.contains("frame_pos"),
      s"positional signature frame needs a frame_pos column: " +
        df.columns.mkString(","))
    df.withColumn("frame_pos", col("frame_pos").cast("int"))
  }

  /** Canonical persisted `shard` column from the caller's shard
    * column: injective string form (`"v" + value`) with NULLs folded
    * to ONE group (`"n"`) — [[graft.operators.Dedup
    * .hammingNearDupPairs]]'s struct-packing semantics for the
    * persisted world, where a plain equi-join would silently exempt
    * null-shard rows from dedup. One helper serves write, append and
    * probe, so the canonical form can never diverge between them. */
  private def shardCast(df: DataFrame, shardCol: Option[String]): DataFrame =
    shardCol.fold(df) { c =>
      require(!Set("band", "bucket", "sig", "frame_pos").contains(c),
        s"shardCol '$c' collides with a reserved state column")
      require(df.columns.contains(c),
        s"signature frame lacks shard column '$c': ${df.columns.mkString(",")}")
      df.withColumn("shard",
        when(col(c).isNull, lit("n"))
          .otherwise(concat(lit("v"), col(c).cast("string"))))
    }

  private def frameKeyCols(shardCol: Option[String]): Seq[String] =
    "frame_pos" +: shardCol.map(_ => "shard").toSeq

  /** Corpus positional-signature state: banded per-frame rows
    * bucketed + sorted by (frame_pos, band, bucket) — exactly the
    * probe's join key, so recurring clip batches join with an
    * exchange on the (wave-sized) batch side only. Input is a
    * [[Video.frameSignatures]]-shaped frame `(<idCol>, frame_pos,
    * <sigCol>)`; the band layout is persisted as the same in-table
    * `_meta` row as [[writeHammingState]] and validated by every
    * append and probe.
    *
    * 100 TB shape: state size = nSampled · nBands rows × ~24 B per
    * clip (a billion 8-sample clips at the default budget ≈ 1 TB of
    * bucketed parquet); a wave's probe shuffles only its own banded
    * frames, and the position in the join key means a batch frame can
    * only meet state frames AT ITS OWN SAMPLE POSITION — the
    * candidate space is partitioned |positions| ways before banding
    * even starts. */
  def writeFrameHammingState(frameSigs: DataFrame, idCol: String,
      sigCol: String, table: String, path: String, maxHamming: Int = 8,
      numBuckets: Int = 64, everyNth: Int,
      shardCol: Option[String] = None,
      signer: Option[String] = None): Unit = {
    requireGrid(everyNth, "writeFrameHammingState")
    writeHammingStateKeyed(shardCast(frameCast(frameSigs), shardCol),
      idCol, sigCol, table, path, maxHamming, numBuckets,
      keyCols = frameKeyCols(shardCol), grid = everyNth,
      sharded = shardCol.isDefined, signer = signer)
  }

  /** The sampling stride is LAYOUT IDENTITY for positional state — a
    * different `everyNth` renumbers `frame_pos`, so position-aligned
    * joins against rows written under another grid silently match
    * nothing. Every write declares it (persisted in the `_meta` row)
    * and every append/probe is validated against it, exactly like
    * the band layout. */
  private def requireGrid(everyNth: Int, caller: String): Unit =
    require(everyNth >= 1 && everyNth <= 0xFFFF,
      s"$caller: everyNth must be in [1, 65535], got $everyNth — the " +
        "stride that produced these frame_pos values (the " +
        "Video.frameSignatures sampling grid)")

  /** Grow the positional state by a wave's frame signatures — same
    * band layout (validated against the `_meta` row BEFORE writing),
    * same bucket spec. Seen-not-kept composes as everywhere else:
    * append every clip that was COMPARED when batch-parity across
    * waves matters. */
  def appendFrameHammingState(batch: DataFrame, idCol: String,
      sigCol: String, table: String, maxHamming: Int = 8,
      numBuckets: Int = 64, everyNth: Int,
      shardCol: Option[String] = None,
      signer: Option[String] = None): Unit = {
    requireGrid(everyNth, "appendFrameHammingState")
    appendHammingStateKeyed(shardCast(frameCast(batch), shardCol),
      idCol, sigCol, table, maxHamming, numBuckets,
      keyCols = frameKeyCols(shardCol),
      caller = "appendFrameHammingState", grid = everyNth,
      sharded = shardCol.isDefined, signer = signer)
  }

  /** Batch clip ids whose sampled frames are within `maxHamming` bits
    * of SOME state clip's frames at ≥ `minFrames` distinct positions
    * — [[Video.clipNearDupPairs]]'s match contract against persisted
    * state. Banded batch frames equi-join the table on (frame_pos,
    * band, bucket) — the state streams bucket-aligned from disk —
    * then popcount verify, collapse multi-band collisions to distinct
    * (batch, state, position) rows, and count positions per pair.
    *
    * Unlike [[hammingDupIdsAgainstTable]] this CANNOT be a semi join:
    * the contract is a per-(batch, state) POSITION COUNT, not
    * existence, so matches must be enumerated. The enumeration is
    * bounded the same way the batch self-join is — position-aligned
    * 12/13-bit strided buckets — with the same honestly-quadratic
    * residual within a (position, bucket) cluster of near-identical
    * frames (title cards, black frames); the position key bounds each
    * cluster to clips sharing that sample index, and the per-wave
    * probe never grows with corpus age on the BATCH side.
    *
    * '''`shardCol` — the title-card escape hatch, persisted.''' When
    * the state was written with a shard column
    * ([[writeFrameHammingState]]'s `shardCol` — a per-clip constant
    * like source or series), the shard value joins the position in
    * the key and matches are sought only WITHIN equal shard values
    * (the [[Video.clipNearDupPairs]] `shardCols` contract, carried
    * into the persisted world). That bounds the residual
    * per-(position, bucket) enumeration to each shard's clips:
    * Σn² → Σ(n/s)²·s for s even shards. Shardedness is LAYOUT
    * IDENTITY, validated against the `_meta` row exactly like the
    * grid — a shardless probe of sharded state (or the reverse)
    * refuses loudly instead of silently matching nothing. */
  def frameHammingDupIdsAgainstTable(batch: DataFrame, idCol: String,
      sigCol: String, state: DataFrame, maxHamming: Int = 8,
      minFrames: Int = 2, everyNth: Int,
      shardCol: Option[String] = None,
      signer: Option[String] = None): DataFrame = {
    requireGrid(everyNth, "frameHammingDupIdsAgainstTable")
    // the shard-mix refusals mirror the _meta flag check but fire on
    // the cheaper structural evidence (the shard COLUMN), so a caller
    // gets the actionable message even on a bare DataFrame
    require(shardCol.isEmpty || state.columns.contains("shard"),
      "frameHammingDupIdsAgainstTable: called with a shardCol but the " +
        "state table was written UNSHARDED — rebuild it with shardCol " +
        "to adopt the within-shard contract")
    require(shardCol.isDefined || !state.columns.contains("shard"),
      "frameHammingDupIdsAgainstTable: state table rows carry a shard " +
        "join key but the call passed no shardCol — a shardless probe " +
        "against sharded rows silently matches nothing; pass the shard " +
        "column the state was written with")
    val reserved = Set("frame_pos", "band", "bucket", "sig") ++
      shardCol.map(_ => "shard")
    require(reserved.subsetOf(state.columns.toSet) &&
      state.columns.length <= reserved.size + 1,
      s"not a ${shardCol.map(_ => "sharded ").getOrElse("")}positional " +
        s"hamming state table (want ${reserved.mkString(", ")}[, <id>]): " +
        state.columns.mkString(","))
    val (stateIdCol, _) = positionalStateCols(state)
    validateHammingMeta(state, maxHamming,
      "frameHammingDupIdsAgainstTable", grid = everyNth,
      sharded = shardCol.isDefined, signer = signer)
    val keyCols = frameKeyCols(shardCol)
    val st = state.filter(col("band") =!= HammingMetaBand)
      .select((keyCols.map(col) ++ Seq(col("band"), col("bucket"),
        col(stateIdCol).as("__idC"), col("sig").as("__ssig"))): _*)
    hammingBanded(shardCast(frameCast(batch), shardCol), idCol, sigCol,
        maxHamming, probe = true, keyCols = keyCols)
      .join(st, keyCols ++ Seq("band", "bucket"))
      .filter(bit_count(col("sig").bitwiseXOR(col("__ssig"))) <= maxHamming)
      .select(col(idCol), col("__idC"), col("frame_pos"))
      .distinct()
      .groupBy(col(idCol), col("__idC"))
      .agg(count(lit(1)).as("__mf"))
      .filter(col("__mf") >= minFrames)
      .select(col(idCol)).distinct()
  }

  /** Per-shard duplicate-CLIP compaction for the positional state —
    * the title-card lever. Clips whose ENTIRE sampled
    * `(frame_pos, sig)` sets are identical (exact re-encodes,
    * black-frame and title-card families) are INTERCHANGEABLE for
    * every probe decision: a batch clip matches one iff it matches
    * all, at the same positions with the same Hamming distances, so
    * pair counts against the representative equal pair counts against
    * any dropped twin. Keeping one representative (min id) per
    * identical family within each shard collapses the
    * honestly-quadratic within-(position, shard, bucket) enumeration
    * of [[frameHammingDupIdsAgainstTable]] from n matches per probe
    * frame to 1 per family — Σn² → Σf² over FAMILY counts f, which a
    * recrawl-heavy corpus shrinks by orders of magnitude. Only exact
    * whole-clip equality collapses; subset/overlap clips are kept
    * (their pair counts genuinely differ). Blue/green into
    * `(newTable, newPath)` with the bucket spec and `_meta` row
    * preserved; returns the number of clips dropped.
    *
    * The dropped-id → representative REMAP persists as a sidecar
    * table `"${newTable}_remap"` (composed across re-compactions:
    * a representative dethroned by a smaller later twin repoints its
    * family). The remap is what makes compaction safe to combine
    * with id-level retraction: [[retractFrameHammingIds]] re-elects
    * a surviving twin when a representative is tombstoned — the
    * family's rows live on under the twin's id instead of silently
    * vanishing while dropped twins are still live corpus members.
    *
    * Scale shape: one bucketed scan, a per-clip sorted fingerprint
    * (clip-length arrays, never corpus-wide), a family-keyed min, a
    * broadcastable drop list is NOT assumed (the anti-join keys by
    * id over the bucketed scan) — nothing quadratic anywhere. Run it
    * as a compaction epilogue at the same cadence as tombstone
    * compaction. */
  def compactFrameHammingDuplicates(
      spark: org.apache.spark.sql.SparkSession, table: String,
      newTable: String, newPath: String, numBuckets: Int = 64): Long = {
    val state = spark.table(table)
    val (idCol, shardCols) = positionalStateCols(state)
    val rows = state.filter(col("band") =!= HammingMetaBand)
    val meta = state.filter(col("band") === HammingMetaBand)
    // clip fingerprint: the full distinct (frame_pos, sig) set, sorted
    // — grouped on the SET itself (no hash, no collision risk)
    val fp = rows
      .select((Seq(col(idCol)) ++ shardCols.map(col) ++
        Seq(col("frame_pos"), col("sig"))): _*)
      .distinct()
      .groupBy((col(idCol) +: shardCols.map(col)): _*)
      .agg(sort_array(collect_list(struct(col("frame_pos"), col("sig"))))
        .as("__fp"))
    val keep = fp.groupBy((shardCols.map(col) :+ col("__fp")): _*)
      .agg(min(col(idCol)).as("__keep"))
    // (dropped twin → representative) — ids are globally unique, so
    // the remap needs no shard column
    val newDrops = fp.join(keep, shardCols :+ "__fp")
      .filter(col(idCol) =!= col("__keep"))
      .select(col(idCol).as("dropped_id"), col("__keep").as("rep_id"))
      .localCheckpoint(true)
    val nDropped = newDrops.count()
    writeBucketed(
      rows.join(newDrops.select(col("dropped_id").as("__dropid")),
          col(idCol) === col("__dropid"), "left_anti")
        .unionByName(meta),
      newTable, ("frame_pos" +: shardCols) ++ Seq("band", "bucket"),
      numBuckets, path = Some(newPath))
    writeRemap(composeRemap(priorRemap(spark, table), newDrops), newTable,
      newPath)
    hammingMetaMemo.clear()
    nDropped
  }

  /** A positional state table's id column and shard key (`shard` when
    * the table was written sharded): past the reserved `(frame_pos[,
    * shard], band, bucket, sig)` columns it must carry exactly one. */
  private def positionalStateCols(state: DataFrame): (String, Seq[String]) = {
    val shardCols = Seq("shard").filter(state.columns.contains)
    val reserved = Set("frame_pos", "band", "bucket", "sig") ++ shardCols
    state.columns.filterNot(reserved) match {
      case Array(id) => (id, shardCols)
      case other => throw new IllegalArgumentException(
        "not a positional hamming state table (want " +
          s"${reserved.mkString(", ")}, <id>): ${other.mkString(",")}")
    }
  }

  /** The dropped-id → representative remap sidecar of a compacted
    * Hamming state: `"${table}_remap"` at `"${path}_remap"`, keyed by
    * `rep_id` (dropped ids only — small, so 16 buckets). */
  private def writeRemap(remap: DataFrame, table: String, path: String): Unit =
    writeBucketed(remap, s"${table}_remap", Seq("rep_id"), 16,
      path = Some(s"${path}_remap"))

  /** The remap sidecar of state `table`, if it was ever compacted. */
  private[graft] def priorRemap(spark: org.apache.spark.sql.SparkSession,
      table: String): Option[DataFrame] =
    Some(s"${table}_remap").filter(spark.catalog.tableExists).map(spark.table)

  /** A compaction's remap composed with the prior one: a prior
    * representative dethroned now (a smaller identical twin arrived
    * since) appears in `newDrops`, so its old family repoints to the new
    * representative and chains never exceed depth 1. */
  private def composeRemap(prior: Option[DataFrame],
      newDrops: DataFrame): DataFrame =
    prior.fold(newDrops)(_.join(newDrops.select(col("dropped_id").as("rep_id"),
        col("rep_id").as("__r2")), Seq("rep_id"), "left")
      .withColumn("rep_id", coalesce(col("__r2"), col("rep_id")))
      .select(col("dropped_id"), col("rep_id"))
      .unionByName(newDrops))

  /** Id-level retraction for a (possibly compacted) positional
    * hamming state — the takedown pass that is SAFE to combine with
    * [[compactFrameHammingDuplicates]]. A plain
    * [[compactState]]/tombstone delete of a compacted table has a
    * silent failure mode: retracting a family REPRESENTATIVE deletes
    * the family's only remaining rows while its dropped twins are
    * still live corpus members, so the family stops suppressing new
    * duplicates. Here a retracted representative with surviving
    * twins RE-ELECTS the minimum surviving twin: the family's rows
    * are identical by construction (whole-clip signature equality is
    * what compaction collapsed), so re-election is a pure id rewrite
    * on the representative's rows — no corpus re-decode. The remap
    * sidecar updates in the same pass (tombstoned twins leave,
    * repointed families stay depth-1, the new representative's own
    * row is removed). Blue/green into `(newTable, newPath)`;
    * tombstones broadcast, elections are takedown-sized. States never
    * compacted (no remap table) degrade to the plain physical delete. */
  def retractFrameHammingIds(
      spark: org.apache.spark.sql.SparkSession, table: String,
      newTable: String, newPath: String, tombstones: DataFrame,
      numBuckets: Int = 64): Unit = {
    val (idCol, shardCols) = positionalStateCols(spark.table(table))
    retractHammingCore(spark, table, newTable, newPath, tombstones,
      idCol, ("frame_pos" +: shardCols) ++ Seq("band", "bucket"), numBuckets)
  }

  /** [[retractFrameHammingIds]]' sibling for the FLAT banded state
    * (`(band, bucket, <id>, sig)` — the media loops' layout): the
    * same remap-aware re-election, because [[dedupCompactBandedState]]
    * collapses signature-identical ids (all nBands rows of an id are
    * functions of its one sig, so identical rows ⟺ identical sig —
    * families keyed by signature). A retracted kept id with surviving
    * signature twins rewrites its rows to the min twin; states never
    * compacted degrade to the plain physical delete. */
  def retractBandedHammingIds(
      spark: org.apache.spark.sql.SparkSession, table: String,
      newTable: String, newPath: String, tombstones: DataFrame,
      numBuckets: Int = 64): Unit = {
    val state = spark.table(table)
    require(state.columns.length == 4 &&
      Set("band", "bucket", "sig").subsetOf(state.columns.toSet),
      s"not a flat banded state table (want band, bucket, <id>, sig): " +
        state.columns.mkString(","))
    val idCol = state.columns
      .filterNot(Set("band", "bucket", "sig")).head
    retractHammingCore(spark, table, newTable, newPath, tombstones,
      idCol, Seq("band", "bucket"), numBuckets)
  }

  /** Shared retraction core for the id-carrying Hamming states:
    * tombstoned ids drop; a tombstoned family REPRESENTATIVE (per the
    * `"${table}_remap"` sidecar) with surviving twins re-elects the
    * minimum twin by pure id rewrite — family rows are identical by
    * the compaction's own construction, so the rewrite preserves
    * every probe decision for live content. The remap updates in the
    * same pass (tombstoned twins leave, repointed families stay
    * depth-1, the new representative's own row is removed).
    * Tombstones broadcast; elections are takedown-sized. */
  private def retractHammingCore(
      spark: org.apache.spark.sql.SparkSession, table: String,
      newTable: String, newPath: String, tombstones: DataFrame,
      idCol: String, bcols: Seq[String], numBuckets: Int): Unit = {
    // the `_meta` row's null id matches no tombstone and no election, so
    // it rides through every join below untouched, and the rewrite keeps
    // the scan's rows in place for the bucketed write
    val rows = spark.table(table)
    val tomb = org.apache.spark.sql.functions.broadcast(
      tombstones.select(col(tombstones.columns.head).as("retract_id"))
        .distinct().localCheckpoint(true))
    val remapT = s"${table}_remap"
    val hasRemap = spark.catalog.tableExists(remapT)
    val (rows2, remap2) = if (hasRemap) {
      val remap = spark.table(remapT)
      // retired representatives → min SURVIVING twin (if any)
      val elect = remap
        .join(tomb, remap("rep_id") === col("retract_id"), "left_semi")
        .join(tomb, remap("dropped_id") === col("retract_id"), "left_anti")
        .groupBy(col("rep_id"))
        .agg(min(col("dropped_id")).as("__new"))
        .localCheckpoint(true)
      val bElect = org.apache.spark.sql.functions.broadcast(elect)
      val r2 = rows
        .join(bElect.select(col("rep_id").as("__old"), col("__new")),
          col(idCol) === col("__old"), "left")
        .withColumn(idCol, coalesce(col("__new"), col(idCol)))
        .drop("__old", "__new")
        .join(tomb, col(idCol) === col("retract_id"), "left_anti")
      val m2 = remap
        .join(tomb, col("dropped_id") === col("retract_id"), "left_anti")
        .join(bElect.select(col("rep_id"), col("__new")), Seq("rep_id"), "left")
        .withColumn("rep_id", coalesce(col("__new"), col("rep_id")))
        .filter(col("dropped_id") =!= col("rep_id"))
        .select(col("dropped_id"), col("rep_id"))
      (r2, Some(m2))
    } else {
      (rows.join(tomb, col(idCol) === col("retract_id"), "left_anti"), None)
    }
    writeBucketed(rows2, newTable, bcols, numBuckets, path = Some(newPath))
    remap2.foreach(writeRemap(_, newTable, newPath))
    hammingMetaMemo.clear()
  }

  /** Drop every batch row whose signature is within `maxHamming` of
    * any state signature — the recurring media-dedup probe
    * ([[graft.operators.Images]] dHash / [[graft.operators.Audio]]
    * eHash / [[graft.operators.Dedup.simhashSignature]]). The dup id
    * set is checkpointed before the anti-join (it is tiny; the plan
    * assert lives on [[hammingDupIdsAgainstTable]]). */
  def hammingDedupAgainstTable(batch: DataFrame, idCol: String,
      sigCol: String, state: DataFrame, maxHamming: Int = 8,
      signer: Option[String] = None): DataFrame = {
    val dupIds = hammingDupIdsAgainstTable(batch, idCol, sigCol, state,
        maxHamming, signer)
      .localCheckpoint(true)
    batch.join(dupIds, Seq(idCol), "left_anti")
  }

  // --------------------------------------------------------------
  // Duplicate-signature compaction: the steady-state crawl loops
  // append EVERY sighted signature (the seen-not-kept contract), so
  // a recrawl-heavy loop re-appends an identical row per wave
  // forever. These compactions drop only rows that are provably
  // interchangeable evidence for every probe over the table.
  // --------------------------------------------------------------

  /** Duplicate-signature compaction for a FLAT banded state table
    * (`(band, bucket, <id>, sig)` — the text MinHash and media
    * Hamming layouts alike): one surviving row per (band, bucket,
    * sig), lowest id. Decision-preserving BY CONSTRUCTION: every
    * probe over these tables is an existence test on exactly those
    * three columns ([[hammingDupIdsAgainstTable]]'s semi-join;
    * [[fuzzyDupIds]]' band join + signature-agreement filter), so
    * identical rows differ only in multiplicity. The `_meta` row
    * rides through (its reserved band groups alone; `min` of its
    * null id stays null). One state-sized aggregate + bucketed
    * blue/green rewrite into a NEW (table, path) — run it at the
    * cadence [[graft.IngestCli.CompactionPolicy]] computes, where
    * the amortized cost stays linear in total appends. */
  def dedupCompactBandedState(state: DataFrame, idColName: String,
      table: String, path: String, numBuckets: Int,
      priorRemap: Option[DataFrame] = None): Unit = {
    require(Set("band", "bucket", "sig", idColName)
        .subsetOf(state.columns.toSet) && state.columns.length == 4,
      s"not a flat banded state table (want band, bucket, $idColName, " +
        s"sig): ${state.columns.mkString(",")}")
    writeBucketed(
      state.groupBy(col("band"), col("bucket"), col("sig"))
        .agg(min(col(idColName)).as(idColName))
        .select(col("band"), col("bucket"), col(idColName), col("sig")),
      table, Seq("band", "bucket"), numBuckets, path = Some(path))
    // dropped-id → representative remap sidecar: the per-row min-id
    // collapse is a FAMILY collapse keyed by signature (an id's
    // nBands rows are all functions of its one sig), so retraction
    // of a kept id can re-elect a surviving signature twin
    // ([[retractBandedHammingIds]]). Composed across re-compactions.
    val idSig = state.filter(col("band") =!= HammingMetaBand)
      .select(col(idColName), col("sig")).distinct()
    val reps = idSig.groupBy(col("sig"))
      .agg(min(col(idColName)).as("__rep"))
    val newDrops = idSig.join(reps, Seq("sig"))
      .filter(col(idColName) =!= col("__rep"))
      .select(col(idColName).as("dropped_id"), col("__rep").as("rep_id"))
    writeRemap(composeRemap(priorRemap, newDrops), table, path)
  }

  /** Duplicate-digest compaction for the bare-key exact-dedup table
    * (`(__d1, __d2)`): `DISTINCT`, same bucket spec. The probe is an
    * anti-join on the pair — multiplicity is invisible to it. */
  def dedupCompactDigestState(state: DataFrame, table: String,
      path: String, numBuckets: Int): Unit = {
    require(state.columns.toSet == Set("__d1", "__d2"),
      s"not a digest state table (want __d1, __d2): " +
        state.columns.mkString(","))
    writeBucketed(state.distinct(), table, Seq("__d1", "__d2"), numBuckets,
      path = Some(path))
  }

  // --------------------------------------------------------------
  // Takedown / retraction: opt-out and legal-removal lists must
  // propagate to the corpus AND every derived state table.
  // --------------------------------------------------------------

  /** Tombstone state: the distinct set of retracted document ids as
    * a tiny bucketed table (column `retract_id`, the id's original
    * type preserved). The 100 TB shape is deliberately asymmetric:
    * takedown lists are human/legal-request sized (thousands, not
    * billions), so every consumer BROADCASTS the tombstones and the
    * corpus/state side never shuffles — retraction-at-read is a
    * map-side anti-join ([[retractIds]]), and the periodic
    * [[compactState]] pass makes it physical. */
  def writeTombstones(ids: DataFrame, idCol: String,
      table: String, path: String, numBuckets: Int = 16): Unit =
    writeBucketed(ids.select(col(idCol).as("retract_id")).distinct(), table,
      Seq("retract_id"), numBuckets, path = Some(path))

  /** Grow the tombstone state by a new takedown batch, anti-joined
    * against existing tombstones first so retries and re-submitted
    * requests keep the table distinct (the [[appendGrams]]
    * discipline), same bucket spec as [[writeTombstones]]. */
  def appendTombstones(ids: DataFrame, idCol: String,
      tombstones: DataFrame, table: String, numBuckets: Int = 16): Unit =
    writeBucketed(
      ids.select(col(idCol).as("retract_id")).distinct()
        .join(tombstones.select(col("retract_id")), Seq("retract_id"),
          "left_anti"),
      table, Seq("retract_id"), numBuckets, SaveMode.Append)

  /** Drop every row whose `idColName` is tombstoned — retraction at
    * READ time: a broadcast left_anti (tombstones are takedown-list
    * sized), so the big side stays map-side and unshuffled. Works
    * identically on the corpus (`doc_id`) and on any id-carrying
    * state table (`corpus_id` in fingerprint postings, the id in
    * snapshot/cell-vector/banded-signature state) — put this between
    * `spark.table(state)` and the probe until the next
    * [[compactState]] pass makes the removal physical. */
  def retractIds(df: DataFrame, idColName: String,
      tombstones: DataFrame): DataFrame =
    df.join(
      org.apache.spark.sql.functions.broadcast(
        tombstones.select(col("retract_id"))),
      df(idColName) === col("retract_id"), "left_anti")

  /** Make retraction PHYSICAL for one id-carrying state family:
    * rewrite the state minus tombstoned ids into a NEW (table, path)
    * with the family's own bucket spec preserved, so every probe
    * against the compacted table is still state-shuffle-free.
    * Blue/green by construction — Spark cannot overwrite a table it
    * is reading, and a compaction that repoints consumers AFTER the
    * new table lands is also the atomic-cutover shape production
    * wants. One bucketed write per family per compaction cycle;
    * the anti-join side is broadcast, so compaction cost is the
    * state's own size, independent of corpus text.
    *
    * Content-keyed state WITHOUT ids (the digest and seen-gram
    * tables) cannot be compacted this way — a digest/gram may also
    * be owned by retained documents, so the only correct retraction
    * is a rebuild from the retained corpus
    * ([[writeDigestTable]]/[[writeGramTable]] over
    * [[retractIds]]-filtered input), the same cheap corpus-side pass
    * as the maxDf-cap refresh. */
  def compactState(state: DataFrame, idColName: String,
      tombstones: DataFrame, table: String, path: String,
      bucketCols: Seq[String], numBuckets: Int = 64): Unit =
    writeBucketed(retractIds(state, idColName, tombstones), table,
      bucketCols, numBuckets, path = Some(path))

  /** Distinct-per-document word n-grams as 128-bit digest pairs —
    * the same gram identity as [[Stats.ngramNovelty]] (digest keys,
    * never gram text, on any exchange). */
  // --------------------------------------------------------------
  // Incremental near-dup CLUSTERS: stable cluster ids at crawl
  // cadence. [[DupClusters.connectedComponents]] answers the batch
  // question ("what are the components of the near-dup graph right
  // now?"); this family answers the recurring one: a wave arrives and
  // each document either JOINS an existing cluster, FOUNDS a new one,
  // or BRIDGES existing clusters — which must then merge — without
  // the corpus-side pair enumeration ever re-running. The cluster id
  // is the component's minimum document id, which is wave-order
  // INDEPENDENT (a min is a min whichever wave contributed it), so
  // resolved membership after any wave sequence over unique ids is
  // identical to one batch clustering of the union — the oracle's
  // contract.
  // --------------------------------------------------------------

  /** The four persisted relations of a cluster state, named once.
    * `postings` (g1, g2, <id>, n_grams) is corpus-scale, bucketed by
    * the 128-bit gram digest so wave probes stream it bucket-aligned;
    * the per-doc distinct-gram total rides DENORMALIZED on every row
    * (8 B) so a probe needs no second state lookup. `membership`
    * (<id>, cluster) is corpus-scale, bucketed by id; its `cluster`
    * values are the labels AT ASSIGNMENT TIME and are never rewritten.
    * `alias` (cluster, canon) records merges — merge-event-scale
    * (tiny), kept FLAT (depth 1) by rewriting at each append, and
    * broadcast at read so resolution is one narrow join. `edges`
    * (src, dst) persists the DOC-LEVEL pair graph symmetrically,
    * bucketed by src — edge-scale (pair enumeration output, orders
    * below postings) — because takedown is a GRAPH operation:
    * removing a document can SPLIT its cluster (it may be the only
    * bridge), which membership alone cannot decide
    * ([[takedownClusters]] re-runs components over the affected
    * subgraph only). */
  final case class ClusterTables(postTable: String, postPath: String,
      memberTable: String, memberPath: String,
      aliasTable: String, aliasPath: String,
      edgeTable: String, edgePath: String, numBuckets: Int = 64)

  /** Exact word-n-gram Jaccard pairs between two posting-shaped
    * frames `(<key>, __g1, __g2, n_grams)`: equi-join on the digest,
    * per-pair intersection count, threshold on
    * `round(inter / (na + nb − inter), 6)` — the round-then-compare
    * convention every oracle replays. The per-gram fan-out is
    * Σ df_a·df_b — exactness's price, disclosed; `n` is the knob
    * (bigger grams, thinner document frequencies), and the guarded
    * router (q97) or winnowing fingerprints are the production
    * alternatives when a corpus carries heavy boilerplate. */
  private def gramJaccardPairs(a: DataFrame, b: DataFrame,
      threshold: Double): DataFrame = {
    a.join(b, Seq("__g1", "__g2"))
      .groupBy(col("__ia"), col("__ib"))
      .agg(count(lit(1)).as("__iv"),
        max(col("__na")).as("__na"), max(col("__nb")).as("__nb"))
      .filter(round(col("__iv") * lit(1.0) /
        (col("__na") + col("__nb") - col("__iv")), 6) >= threshold)
      .select(col("__ia"), col("__ib"))
  }

  private def postingsShape(df: DataFrame, idCol: String, side: String): DataFrame =
    df.select(col(idCol).as(s"__i$side"), col("__g1"), col("__g2"),
      col("n_grams").as(s"__n$side"))

  /** [[gramJaccardPairs]]' SELF-join form over one posting frame: the
    * literally-same instance joins itself under two aliases, so the
    * gram shuffle canonicalizes equal and plans as ONE exchange
    * written once, read twice (ReusedExchange) — two separately
    * projected copies would shuffle the wave's grams twice. */
  private def gramJaccardPairsSelf(posts: DataFrame, idCol: String,
      threshold: Double): DataFrame =
    posts.alias("a").join(posts.alias("b"),
        col("a.__g1") === col("b.__g1") &&
          col("a.__g2") === col("b.__g2") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("__ia"), col(s"b.$idCol").as("__ib"))
      .agg(count(lit(1)).as("__iv"),
        max(col("a.n_grams")).as("__na"), max(col("b.n_grams")).as("__nb"))
      .filter(round(col("__iv") * lit(1.0) /
        (col("__na") + col("__nb") - col("__iv")), 6) >= threshold)
      .select(col("__ia"), col("__ib"))

  /** Wave-shaped postings from raw (id, text): per-doc DISTINCT gram
    * digests + the denormalized total. Materialized eagerly — the
    * frame feeds the self-join, the state probe AND the append.
    *
    * Computed entirely MAP-SIDE, zero exchanges (guide §2.4): the
    * per-doc gram set is already distinct via `array_distinct` (wave
    * ids are unique by the loop contract, so a global `.distinct()`
    * was a full gram shuffle that deduplicated nothing), and
    * `n_grams` is the set's size taken BEFORE the explode — the old
    * groupBy-count-then-join-back re-derived exactly this number at
    * the cost of two more exchanges. Identical output modulo 128-bit
    * xxhash64 pair collisions between distinct gram strings (the same
    * place the old global distinct differed from the string-level
    * set). */
  private[graft] def wavePostings(wave: DataFrame, idCol: String,
      textCol: Column, n: Int): DataFrame =
    wave.select(col(idCol),
        array_distinct(Dedup.wordNGrams(textCol, n)).as("__gs"))
      // cast: size() is int, the legacy count() column was long — the
      // posting-table schema is layout identity, so keep it bit-equal
      .select(col(idCol), col("__gs"),
        size(col("__gs")).cast("long").as("n_grams"))
      .select(col(idCol), explode(col("__gs")).as("__g"), col("n_grams"))
      .select(col(idCol), xxhash64(col("__g")).as("__g1"),
        xxhash64(col("__g"), lit(1)).as("__g2"), col("n_grams"))
      .localCheckpoint(true)

  /** Initial cluster state: batch-cluster the corpus (exact gram
    * Jaccard pairs → [[DupClusters.connectedComponents]] min-label
    * components), then persist postings + membership + an empty alias
    * table. Documents with fewer than `n` words have no grams, match
    * nothing, and found their own singleton clusters — exactly the
    * batch semantics. */
  def writeClusterState(corpus: DataFrame, idCol: String, textCol: Column,
      n: Int, threshold: Double, t: ClusterTables): Unit = {
    val spark = corpus.sparkSession
    // a fresh state must not inherit a previous life's takedown
    // overlay under the same derived names
    Seq(patchTable(t), tombTable(t))
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
    val posts = wavePostings(corpus, idCol, textCol, n)
    // A FRESH state's four relations are each a blue/green Overwrite
    // into their own dir (a crash re-inits from scratch), so no write
    // ordering is load-bearing here — unlike the append path. The
    // postings write and the empty alias depend only on `posts`, so
    // they overlap the whole pair-enumeration → CC → edges/membership
    // chain instead of queueing behind it (guide §2.6).
    Actions.inParallel(Seq(
      () => {
        val pairs = gramJaccardPairsSelf(posts, idCol, threshold)
          .select(col("__ia").as("id_a"), col("__ib").as("id_b"))
          .localCheckpoint(true)
        val comps = DupClusters.connectedComponents(
          corpus.select(col(idCol)), pairs)
        Actions.inParallel(Seq(
          () => writeEdges(pairs, t, SaveMode.Overwrite),
          () => writeMembership(comps.select(col("id").as(idCol),
            col("cluster")), idCol, t, SaveMode.Overwrite)))
      },
      () => writeBucketed(posts.select(col("__g1").as("g1"),
          col("__g2").as("g2"), col(idCol), col("n_grams")),
        t.postTable, Seq("g1", "g2"), t.numBuckets, path = Some(t.postPath)),
      () => writeEmptyAlias(spark, t)))
  }

  private val AliasSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cluster",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("canon",
      org.apache.spark.sql.types.LongType)))

  private def writeEmptyAlias(spark: org.apache.spark.sql.SparkSession,
      t: ClusterTables): Unit =
    writeBucketed(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], AliasSchema),
      t.aliasTable, Nil, 0, path = Some(t.aliasPath))

  /** Blue/green alias rewrite for a merging wave. The rewritten rows
    * land in a FRESH `"${aliasPath}_v{n+1}"` directory — the directory
    * the live table points at is never deleted or partially
    * overwritten — and only then does the catalog repoint (drop +
    * external re-create with an explicit schema: a metadata-only swap,
    * safe for the empty-alias case where the directory holds no part
    * files). Crash windows, enumerated: before the data write
    * completes → the table still points at the old COMPLETE version
    * (resolution serves pre-merge labels and the interrupted wave
    * re-runs, the ingest loop's at-least-once contract); between drop
    * and re-create → [[resolveClusters]] fails LOUDLY (table missing)
    * instead of silently serving stale labels, and [[recoverClusters]]
    * rebuilds canonical labels from the persisted edges. Versions
    * older than current−1 are deleted after the swap (current +
    * previous retained — the gold-dir convention); alias tables are
    * merge-event-scale, so the extra copy is bytes, not a corpus
    * cost. */
  private def writeAliasVersioned(spark: org.apache.spark.sql.SparkSession,
      rewritten: DataFrame, t: ClusterTables): Unit =
    writeVersionedSwap(spark,
      rewritten.select(col("cluster").cast("long"), col("canon").cast("long")),
      t.aliasTable, t.aliasPath, AliasSchema)

  /** The generic small-table blue/green swap behind
    * [[writeAliasVersioned]] (and the takedown patch ledger): data to
    * a fresh `"${basePath}_v{n+1}"`, catalog repoint with an explicit
    * schema (empty-safe), versions older than current−1 reaped. */
  private def writeVersionedSwap(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, table: String, basePath: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val fs = new org.apache.hadoop.fs.Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(s"${basePath}_v*")))
      .toSeq.flatten.map(_.getPath.getName)
      .flatMap(n => n.substring(n.lastIndexOf("_v") + 2).toIntOption)
      .sorted
    val next = versions.lastOption.fold(0)(_ + 1)
    val newPath = s"${basePath}_v$next"
    df.write.mode(SaveMode.Overwrite).parquet(newPath)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.catalog.createTable(table, "parquet", schema,
      Map("path" -> newPath))
    versions.filter(_ < next - 1).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"${basePath}_v$v"), true)
    }
  }

  /** Recovery for a crash inside [[appendClusters]]' multi-write wave
    * (edges append → {alias swap ∥ membership append} → postings
    * append — not atomic as a group; the middle pair runs concurrently
    * because both are regenerated here from the edges, while edges
    * stay FIRST and the non-idempotent postings append stays LAST).
    * The persisted doc-level EDGES are the
    * connectivity source of truth (they land first) and membership is
    * the vertex authority, so canonical labels are re-derivable
    * without touching any text: components over (membership ids,
    * edges restricted to them) written as a fully-canonicalized
    * membership plus an EMPTY alias into `nt` — blue/green, the
    * takedown shape. Postings and edges are content state, not label
    * state: they carry over untouched (point `nt` at the same
    * post/edge tables as `t`). A wave whose membership append never
    * landed simply re-runs; its re-appended edges are idempotent
    * w.r.t. connectivity (duplicate edges do not change components).
    * Duplicate membership rows from a re-run wave collapse here too
    * (the id set is DISTINCT and each id gets one component label). */
  def recoverClusters(spark: org.apache.spark.sql.SparkSession,
      t: ClusterTables, nt: ClusterTables): Unit = {
    val member = spark.table(t.memberTable)
    val idCol = member.columns.filterNot(_ == "cluster").head
    val ids0 = member.select(col(idCol)).distinct()
    // a pending takedown overlay holds ground truth the raw edges
    // pre-date: tombstoned ids (and their bridging edges) are gone
    val ids = (if (spark.catalog.tableExists(tombTable(t)))
        retractIds(ids0, idCol, spark.table(tombTable(t)))
      else ids0).localCheckpoint(true)
    val sub = spark.table(t.edgeTable)
      .filter(col("src") < col("dst"))
      .join(ids.select(col(idCol).as("src")), Seq("src"), "left_semi")
      .join(ids.select(col(idCol).as("dst")), Seq("dst"), "left_semi")
    val comps = DupClusters.connectedComponents(ids,
      sub.select(col("src").as("id_a"), col("dst").as("id_b")))
    writeMembership(comps.select(col("id").as(idCol), col("cluster")),
      idCol, nt, SaveMode.Overwrite)
    writeEmptyAlias(spark, nt)
    // the tombstone overlay must SURVIVE recovery under nt's derived
    // name: membership above is tombstone-free, but postings/edges
    // carry over from t untouched, and future appendClusters waves
    // against nt filter postings through tombTable(nt) — without this
    // copy, retracted documents' content would again suppress or
    // bridge new documents
    if (spark.catalog.tableExists(tombTable(t)) &&
        tombTable(nt) != tombTable(t))
      writeTombstones(spark.table(tombTable(t)), "retract_id",
        tombTable(nt), tombPath(nt))
  }

  /** Persist `(id_a, id_b)` pairs SYMMETRICALLY as (src, dst),
    * bucketed by src, so takedown can find every edge incident to a
    * retracted id with one bucket-aligned semi-join per direction. */
  private def writeEdges(pairs: DataFrame, t: ClusterTables,
      mode: SaveMode): Unit =
    writeBucketed(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))),
      t.edgeTable, Seq("src"), t.numBuckets, mode, Some(t.edgePath))

  /** `(<idCol>, cluster)` membership rows into `t`'s membership table,
    * keyed by the id. */
  private def writeMembership(rows: DataFrame, idCol: String,
      t: ClusterTables, mode: SaveMode): Unit =
    writeBucketed(rows, t.memberTable, Seq(idCol), t.numBuckets, mode,
      Some(t.memberPath))

  /** One wave against the cluster state. Ids must be UNIQUE across
    * the state's life (a recrawl under the same id would stack a
    * second membership row — dedup upstream, as every loop does).
    *
    * Mechanics: wave postings probe the bucketed gram table for exact
    * wave↔state Jaccard pairs (state streams bucket-aligned, only the
    * wave's grams shuffle); matched state ids resolve to their CURRENT
    * canonical clusters (bucketed membership join + broadcast alias);
    * [[DupClusters.connectedComponents]] runs over the WAVE-SIZED
    * contracted graph — wave ids plus touched canons, in-wave pairs
    * plus (wave id, canon) edges. Contracting a cluster to its canon
    * preserves components, so the labels are exactly the batch
    * labels. Appends membership + postings; canons whose component
    * label differs become alias rows, and the (tiny) alias table is
    * rewritten FLAT: existing rows pointing at a merged canon repoint
    * to its new label, so resolution stays one broadcast join deep.
    * Returns the wave's `(id, cluster)` assignments.
    *
    * 100 TB shape: state-side work is a bucket-aligned stream of the
    * gram table plus an id-join on bucketed membership — nothing
    * corpus-sized shuffles, ever; the CC loop sees a wave-bounded
    * graph. The honest residual is the exact probe's per-gram
    * Σ df_wave·df_state fan-out (boilerplate grams), same envelope
    * and knobs as the batch pair join (q45's disclosure). */
  def appendClusters(wave: DataFrame, idCol: String, textCol: Column,
      n: Int, threshold: Double, t: ClusterTables): DataFrame = {
    val spark = wave.sparkSession
    val posts = wavePostings(wave, idCol, textCol, n)
    // pending takedown overlay: a tombstoned doc's postings must not
    // match (its content no longer suppresses or links anything) —
    // broadcast anti-join, the retraction-at-read pattern
    val statePosts0 = spark.table(t.postTable)
    val statePosts1 =
      if (spark.catalog.tableExists(tombTable(t)))
        retractIds(statePosts0, idCol, spark.table(tombTable(t)))
      else statePosts0
    val statePosts = statePosts1
      .select(col(idCol).as("__ib"), col("g1").as("__g1"),
        col("g2").as("__g2"), col("n_grams").as("__nb"))
    // the in-wave self-join and the wave↔state probe are independent
    // reads of the materialized postings: UNION them under a source
    // tag and materialize ONCE — one action instead of two, and AQE
    // materializes the two subtrees' independent stages concurrently
    // within the single plan, so the wave pays max not sum (guide
    // §2.6) without a second job's worth of submit latency
    val (inWave, waveState) = enumeratePairsTagged(
      gramJaccardPairsSelf(posts, idCol, threshold),
      gramJaccardPairs(postingsShape(posts, idCol, "a"), statePosts,
        threshold))
    appendClustersCore(spark, wave, idCol, inWave, waveState, t) {
      writeBucketed(posts.select(col("__g1").as("g1"), col("__g2").as("g2"),
          col(idCol), col("n_grams")),
        t.postTable, Seq("g1", "g2"), t.numBuckets, SaveMode.Append)
    }
  }

  /** Materialize a wave's two pair enumerations — the in-wave
    * self-join and the wave↔state probe, both `(__ia, __ib)` — in ONE
    * localCheckpoint action: the frames union under a source tag, so
    * one job materializes both (AQE runs the two subtrees' independent
    * stages concurrently inside it) and the downstream consumers read
    * tag-filtered blocks. Returns (inWave, waveState). */
  private def enumeratePairsTagged(inWavePlan: DataFrame,
      waveStatePlan: DataFrame): (DataFrame, DataFrame) = {
    val tagged = inWavePlan
      .select(lit(0).as("__src"), col("__ia"), col("__ib"))
      .unionByName(waveStatePlan
        .select(lit(1).as("__src"), col("__ia"), col("__ib")))
      .localCheckpoint(true)
    (tagged.filter(col("__src") === 0).select(col("__ia"), col("__ib")),
      tagged.filter(col("__src") === 1).select(col("__ia"), col("__ib")))
  }

  /** The posting-agnostic half of a cluster-state wave: persists the
    * doc-level pair graph, contracts matched state ids to canons,
    * runs CC over the wave-bounded graph, lands membership + alias
    * rewrites, and runs `appendPosts` to grow whatever posting family
    * enumerated the pairs (exact grams or winnow fingerprints).
    * `inWave`/`waveState` are `(__ia, __ib)` pair frames. */
  private def appendClustersCore(
      spark: org.apache.spark.sql.SparkSession, wave: DataFrame,
      idCol: String, inWave: DataFrame, waveState: DataFrame,
      t: ClusterTables)(appendPosts: => Unit): DataFrame = {
    // the DOC-LEVEL pair graph persists (takedown needs it to decide
    // splits); the CC below runs over the cheaper CONTRACTED graph
    writeEdges(inWave.select(col("__ia").as("id_a"), col("__ib").as("id_b"))
        .union(waveState.select(col("__ia").as("id_a"),
          col("__ib").as("id_b"))),
      t, SaveMode.Append)
    // matched state ids → current canonical clusters: bucketed
    // membership join (matched-id-sized shuffle) + flat alias + the
    // takedown patch overlay ([[resolveRaw]] — matched ids are never
    // tombstoned because their postings were filtered above)
    val alias = spark.table(t.aliasTable)
    val canonOf = resolveRaw(spark, t)
      .join(waveState.select(col("__ib").as(idCol)).distinct(), Seq(idCol))
      .select(col(idCol).as("__ib"), col("cluster").as("__canon"))
    // bridgeEdges is the frame with THREE consumers (touched, the CC
    // edge list, and — via touched — the alias rewrite), so IT is the
    // one to checkpoint; deriving `touched` lazily from its blocks is
    // a trivial distinct, while checkpointing touched instead (the old
    // shape) left the CC edge materialization re-running the whole
    // membership probe a second time.
    val bridgeEdges = waveState.join(canonOf, Seq("__ib"))
      .select(col("__ia").as("id_a"), col("__canon").as("id_b")).distinct()
      .localCheckpoint(true)
    val touched = bridgeEdges.select(col("id_b")).distinct()
    val vertices = wave.select(col(idCol))
      .union(touched.select(col("id_b").as(idCol))).distinct()
    val comps = DupClusters.connectedComponents(vertices,
      inWave.select(col("__ia").as("id_a"), col("__ib").as("id_b"))
        .union(bridgeEdges))
      .localCheckpoint(true)
    // merges: a touched canon whose component label is smaller (a
    // bridge reached an older/smaller cluster or a smaller wave id)
    // retires behind an alias row; existing aliases pointing at it
    // repoint to the new label so the table stays depth-1
    val newAliases = comps
      .join(touched.select(col("id_b").as("id")), Seq("id"))
      .filter(col("cluster") =!= col("id"))
      .select(col("id").as("cluster"), col("cluster").as("canon"))
    // alias swap and membership append both derive from the
    // checkpointed comps and have no ordering contract BETWEEN them
    // (the alias swap is idempotent blue/green; duplicate membership
    // rows from a crashed re-run collapse in [[recoverClusters]],
    // which regenerates both relations from the edges either way) —
    // so the two chains run concurrently. Edges stay FIRST (the
    // connectivity source of truth, written above) and postings stay
    // LAST (the one non-idempotent append — landing it last keeps a
    // crashed wave's re-run duplicate-free).
    var assigned: DataFrame = null
    Actions.inParallel(Seq(
      () => {
        val rewritten = alias
          .join(broadcast(newAliases.select(col("cluster").as("__mc"),
            col("canon").as("__nc"))), col("canon") === col("__mc"), "left")
          .select(col("cluster"),
            coalesce(col("__nc"), col("canon")).as("canon"))
          .union(newAliases)
          .localCheckpoint(true)
        writeAliasVersioned(spark, rewritten, t)
      },
      () => {
        assigned = comps
          .join(wave.select(col(idCol).as("id")), Seq("id"))
          .select(col("id").as(idCol), col("cluster"))
          .localCheckpoint(true)
        writeMembership(assigned, idCol, t, SaveMode.Append)
      }))
    appendPosts
    assigned
  }

  /** Winnowing-backed initial cluster state — the SAME
    * [[ClusterTables]] life cycle (append/resolve/takedown/recover
    * all reuse the membership/alias/edge machinery) with
    * [[Winnow.fingerprints]] as the edge enumerator instead of exact
    * gram postings. Pair semantics are q130's: two documents link iff
    * they share ≥ `minShared` distinct fingerprints whose document
    * frequency is ≤ `maxDf` (the df cap is the state's boilerplate
    * guardrail — [[writeFingerprintTable]]'s build-time exclusion).
    * This is the designed escape from the exact gram probe's
    * Σ df_wave·df_state fan-out: fingerprint density is ~2/(w+1) of
    * the gram count and the cap bounds every posting, so the
    * recurring probe is strictly bucket-join-shaped at 100 TB.
    *
    * Posting schema: `(fp, <idCol>)` bucketed+sorted by the long
    * fingerprint. Cap drift caveat (same as [[appendFingerprints]]):
    * appends do not re-evaluate `maxDf` across waves, so resolution ≡
    * batch holds exactly while no fingerprint crosses the cap
    * mid-life; rebuild at compaction cadence to re-apply it. */
  def writeWinnowClusterState(corpus: DataFrame, idCol: String,
      textCol: Column, t: ClusterTables, k: Int = 4, w: Int = 4,
      minShared: Long = 2, maxDf: Long = 64): Unit = {
    val spark = corpus.sparkSession
    Seq(patchTable(t), tombTable(t))
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
    val fp0 = Winnow.fingerprints(corpus, idCol, textCol, k, w)
      .select(col("fp"), col(idCol)).distinct()
    val keep = fp0.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("fp")
    val posts = fp0.join(keep, Seq("fp")).localCheckpoint(true)
    // same overlap as [[writeClusterState]]: fresh-state Overwrites
    // are order-free, so the posting and alias writes run concurrently
    // with the pair → CC → edges/membership chain
    Actions.inParallel(Seq(
      () => {
        val pairs = posts.alias("a").join(posts.alias("b"),
            col("a.fp") === col("b.fp") && col(s"a.$idCol") < col(s"b.$idCol"))
          .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
          .agg(count(lit(1)).as("__shared"))
          .filter(col("__shared") >= minShared)
          .select(col("id_a"), col("id_b"))
          .localCheckpoint(true)
        val comps = DupClusters.connectedComponents(
          corpus.select(col(idCol)), pairs)
        Actions.inParallel(Seq(
          () => writeEdges(pairs, t, SaveMode.Overwrite),
          () => writeMembership(comps.select(col("id").as(idCol),
            col("cluster")), idCol, t, SaveMode.Overwrite)))
      },
      () => writeBucketed(posts, t.postTable, Seq("fp"), t.numBuckets,
        path = Some(t.postPath)),
      () => writeEmptyAlias(spark, t)))
  }

  /** One wave against a winnow-backed cluster state — the q160
    * contract over the q130 pair semantics: resolution after any wave
    * sequence over unique ids equals one batch winnow clustering of
    * the union. Mechanics identical to [[appendClusters]] (contracted
    * CC, alias rewrite, takedown overlay honored) with the
    * fingerprint bucket-join as the pair enumerator: only the wave's
    * fingerprints shuffle; the state streams bucket-aligned. Shared
    * counts between two fixed documents are wave-independent (each
    * doc's fingerprint SET is a pure function of its text), which is
    * what makes the incremental ≡ batch equality exact. */
  def appendWinnowClusters(wave: DataFrame, idCol: String,
      textCol: Column, t: ClusterTables, k: Int = 4, w: Int = 4,
      minShared: Long = 2, maxDf: Long = 64): DataFrame = {
    val spark = wave.sparkSession
    val fp0 = Winnow.fingerprints(wave, idCol, textCol, k, w)
      .select(col("fp"), col(idCol)).distinct()
    val keep = fp0.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("fp")
    val posts = fp0.join(keep, Seq("fp")).localCheckpoint(true)
    val statePosts0 = spark.table(t.postTable)
    val statePosts =
      (if (spark.catalog.tableExists(tombTable(t)))
        retractIds(statePosts0, idCol, spark.table(tombTable(t)))
      else statePosts0)
        .select(col("fp"), col(idCol).as("__ib"))
    // in-wave self-join + wave↔state probe materialized in ONE tagged
    // action ([[enumeratePairsTagged]] — one job, AQE-concurrent
    // subtree stages)
    val (inWave, waveState) = enumeratePairsTagged(
      posts.alias("a").join(posts.alias("b"),
          col("a.fp") === col("b.fp") && col(s"a.$idCol") < col(s"b.$idCol"))
        .groupBy(col(s"a.$idCol").as("__ia"), col(s"b.$idCol").as("__ib"))
        .agg(count(lit(1)).as("__shared"))
        .filter(col("__shared") >= minShared)
        .select(col("__ia"), col("__ib")),
      posts.select(col("fp"), col(idCol).as("__ia"))
        .join(statePosts, Seq("fp"))
        .groupBy(col("__ia"), col("__ib"))
        // distinct fps, not join rows — duplicate-safe like
        // overlapAgainstTable should the posting invariant break
        .agg(countDistinct(col("fp")).as("__shared"))
        .filter(col("__shared") >= minShared)
        .select(col("__ia"), col("__ib")))
    appendClustersCore(spark, wave, idCol, inWave, waveState, t) {
      writeBucketed(posts.join(statePosts0.select(col("fp"), col(idCol)),
          Seq("fp", idCol), "left_anti"),
        t.postTable, Seq("fp"), t.numBuckets, SaveMode.Append)
    }
  }

  // Affected-only takedown OVERLAY: a patch table (id → re-elected
  // label for members of takedown-affected clusters) and a tombstone
  // table, both derived names, both broadcast-scale — so takedown
  // cost is ∝ affected clusters, not corpus ([[patchTakedownClusters]];
  // the corpus-sized blue/green rewrite becomes the COMPACTION,
  // [[compactClusterPatches]]).
  private def patchTable(t: ClusterTables): String = s"${t.memberTable}_patch"
  private def patchPath(t: ClusterTables): String = s"${t.memberPath}_patch"
  private def tombTable(t: ClusterTables): String = s"${t.memberTable}_tomb"
  private def tombPath(t: ClusterTables): String = s"${t.memberPath}_tomb"

  /** Resolution WITHOUT the tombstone filter (retracted ids still
    * visible): stored label → patch override BY ID → flat alias.
    * Patch-before-alias is the load-bearing order: a patch label is a
    * LIVE label, and any pre-existing alias row that could collide
    * with one (its chain ended in a takedown-affected canon) is
    * removed at patch time, while aliases created by LATER merging
    * waves must still apply on top of patched labels. */
  private def resolveRaw(spark: org.apache.spark.sql.SparkSession,
      t: ClusterTables): DataFrame = {
    val member = spark.table(t.memberTable)
    val idCol = member.columns.filterNot(_ == "cluster").head
    val withPatch =
      if (!spark.catalog.tableExists(patchTable(t)))
        member.select(col(idCol), col("cluster"))
      else member.join(broadcast(spark.table(patchTable(t))
          .select(col(idCol), col("cluster").as("__pc"))), Seq(idCol), "left")
        .select(col(idCol), coalesce(col("__pc"), col("cluster")).as("cluster"))
    withPatch
      .join(broadcast(spark.table(t.aliasTable)), Seq("cluster"), "left")
      .select(col(idCol),
        coalesce(col("canon"), col("cluster")).as("cluster"))
  }

  /** Canonical cluster of every LIVE document seen so far: membership
    * with the flat alias map, the takedown patch overlay, and the
    * tombstone filter applied — one bucket-aligned scan + broadcast
    * joins, no corpus shuffle, with or without pending patches. */
  def resolveClusters(spark: org.apache.spark.sql.SparkSession,
      t: ClusterTables): DataFrame = {
    val raw = resolveRaw(spark, t)
    if (!spark.catalog.tableExists(tombTable(t))) raw
    else retractIds(raw, raw.columns.head, spark.table(tombTable(t)))
  }

  /** Takedown in O(affected), not O(corpus): the SAME split-correct
    * semantics as [[takedownClusters]] (affected clusters re-decide by
    * components over the persisted edges restricted to retained
    * members), but instead of rewriting all four corpus-sized
    * relations, the outcome lands as two broadcast-scale OVERLAYS —
    * re-elected labels into the patch table (superseding earlier
    * patch rows for the same ids), retracted ids into the tombstone
    * table. Alias rows whose canon is an affected cluster are
    * removed (every membership row they could serve is now patched or
    * tombstoned; leaving them would mis-route a re-elected label that
    * equals a retired one — the q162 re-election case). Probes,
    * appends and resolution all honor the overlay at read time;
    * [[compactClusterPatches]] makes it physical when the ledger
    * grows past taste.
    *
    * Write order for the crash window: patch swap ∥ alias swap (both
    * idempotent blue/green — safe under any interleaving, so they run
    * concurrently), tombstones LAST — a crash anywhere re-runs to
    * the same converged state (affected clusters are recomputed from
    * the PRE-tombstone view, so a half-applied takedown is found
    * again, and patch/alias swaps are idempotent). */
  def patchTakedownClusters(spark: org.apache.spark.sql.SparkSession,
      retract: DataFrame, t: ClusterTables): Unit = {
    val rid = retract.select(col(retract.columns.head).as("__rid"))
      .distinct().localCheckpoint(true)
    val raw = resolveRaw(spark, t)
    val idCol = raw.columns.head
    val affected = raw
      .join(rid, col(idCol) === col("__rid"), "left_semi")
      .select(col("cluster")).distinct().localCheckpoint(true)
    val members = raw.join(broadcast(affected), Seq("cluster"))
      .select(col(idCol))
    val priorTomb =
      if (spark.catalog.tableExists(tombTable(t)))
        Some(spark.table(tombTable(t)))
      else None
    val retained0 = members
      .join(rid, col(idCol) === col("__rid"), "left_anti")
    val retained = priorTomb.fold(retained0)(retractIds(retained0, idCol, _))
      .localCheckpoint(true)
    val edges = spark.table(t.edgeTable)
    val sub = edges
      .join(retained.select(col(idCol).as("src")), Seq("src"), "left_semi")
      .join(retained.select(col(idCol).as("dst")), Seq("dst"), "left_semi")
      .filter(col("src") < col("dst"))
    val comps = DupClusters.connectedComponents(
      retained.select(col(idCol)),
      sub.select(col("src").as("id_a"), col("dst").as("id_b")))
    val newPatch = comps.select(col("id").as(idCol), col("cluster"))
      .localCheckpoint(true)
    val oldPatch =
      if (spark.catalog.tableExists(patchTable(t)))
        spark.table(patchTable(t)).select(col(idCol), col("cluster"))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        patchSchema(idCol))
    // patch swap ∥ alias swap: both idempotent blue/green (the crash
    // story above holds under any interleaving of the two); only the
    // tombstone append below must stay LAST
    Actions.inParallel(Seq(
      () => {
        val merged = oldPatch
          .join(newPatch.select(col(idCol)), Seq(idCol), "left_anti")
          .join(rid, col(idCol) === col("__rid"), "left_anti")
          .unionByName(newPatch)
          .localCheckpoint(true)
        writeVersionedSwap(spark,
          merged.select(col(idCol).cast("long"), col("cluster").cast("long")),
          patchTable(t), patchPath(t), patchSchema(idCol))
      },
      () => {
        val aliasKept = spark.table(t.aliasTable)
          .join(broadcast(affected.select(col("cluster").as("canon"))),
            Seq("canon"), "left_anti")
          .select(col("cluster"), col("canon"))
          .localCheckpoint(true)
        writeAliasVersioned(spark, aliasKept, t)
      }))
    priorTomb match {
      case Some(tomb) => appendTombstones(rid.select(col("__rid")), "__rid",
        tomb, tombTable(t), numBuckets = 16)
      case None => writeTombstones(rid.select(col("__rid")), "__rid",
        tombTable(t), tombPath(t), numBuckets = 16)
    }
  }

  private def patchSchema(idCol: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.LongType)))

  /** Make the patch/tombstone overlay physical: one blue/green rewrite
    * of all four relations with NO new retractions — exactly
    * [[takedownClusters]] with an empty list, the compaction trigger
    * for the patch ledger (run it when the patch table grows past
    * taste; [[clusterPatchLoad]] is the gauge). */
  def compactClusterPatches(spark: org.apache.spark.sql.SparkSession,
      t: ClusterTables, nt: ClusterTables): Unit =
    takedownClusters(spark, spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("retract_id",
            org.apache.spark.sql.types.LongType)))),
      t, nt)

  /** Overlay pressure: patch rows / membership rows — compact
    * ([[compactClusterPatches]]) when this outgrows broadcast
    * comfort. */
  def clusterPatchLoad(spark: org.apache.spark.sql.SparkSession,
      t: ClusterTables): Double =
    if (!spark.catalog.tableExists(patchTable(t))) 0.0
    else spark.table(patchTable(t)).count().toDouble /
      math.max(1L, spark.table(t.memberTable).count()).toDouble

  /** Takedown over the cluster state, SPLIT-CORRECT: removing a
    * document removes its graph VERTEX, and if it was the only bridge
    * its cluster must fall apart — which membership alone cannot
    * decide. Mechanics: affected clusters = resolved canons of any
    * retracted id (takedown-request-scale); their retained members
    * re-cluster by components over the PERSISTED doc-level edges
    * restricted to retained members (the affected subgraph — bounded
    * by the touched clusters, never the corpus); every other
    * membership row carries over with its RESOLVED label. All four
    * relations rewrite blue/green into `nt` (new tables + paths, the
    * takedown pattern everywhere): postings and edges minus the
    * retracted ids, membership fully canonicalized, alias EMPTY (the
    * rewrite bakes every alias in — a fresh slate, so reads of the
    * new state are one join cheaper until its first merge).
    *
    * Canonical labels re-elect where the canon itself was retracted
    * (min retained id wins); cluster ids are therefore RELEASE-SCOPED
    * across takedowns, exactly as the alias mechanism already implies
    * for merges. A retracted id never ingested is a no-op row. */
  def takedownClusters(spark: org.apache.spark.sql.SparkSession,
      retract: DataFrame, t: ClusterTables, nt: ClusterTables): Unit = {
    val rid = retract.select(col(retract.columns.head).as("__rid"))
      .distinct().localCheckpoint(true)
    val resolved = resolveClusters(spark, t)
    val idCol = resolved.columns.head
    val affected = resolved
      .join(rid, col(idCol) === col("__rid"), "left_semi")
      .select(col("cluster")).distinct().localCheckpoint(true)
    val members = resolved.join(broadcast(affected), Seq("cluster"))
      .select(col(idCol))
    val retained = members
      .join(rid, col(idCol) === col("__rid"), "left_anti")
      .localCheckpoint(true)
    val edges = spark.table(t.edgeTable)
    val sub = edges
      .join(retained.select(col(idCol).as("src")), Seq("src"), "left_semi")
      .join(retained.select(col(idCol).as("dst")), Seq("dst"), "left_semi")
      .filter(col("src") < col("dst"))
    val comps = DupClusters.connectedComponents(
      retained.select(col(idCol)),
      sub.select(col("src").as("id_a"), col("dst").as("id_b")))
    val untouched = resolved
      .join(broadcast(affected), Seq("cluster"), "left_anti")
      .select(col(idCol), col("cluster"))
    // a pending patch/tombstone overlay bakes in here too: membership
    // came through resolveClusters (overlay-aware), and postings/edges
    // drop BOTH this request's ids and any previously-tombstoned ones
    // — so this rewrite doubles as the patch ledger's compaction
    // ([[compactClusterPatches]])
    val priorTomb =
      if (spark.catalog.tableExists(tombTable(t)))
        Some(spark.table(tombTable(t)))
      else None
    val posts0 = spark.table(t.postTable)
      .join(rid, col(idCol) === col("__rid"), "left_anti")
    // posting bucket spec follows the enumerator: exact gram digests
    // (g1, g2) or winnowing fingerprints (fp)
    val pb =
      if (spark.table(t.postTable).columns.contains("fp")) Seq("fp")
      else Seq("g1", "g2")
    val edges0 = edges
      .join(rid, col("src") === col("__rid"), "left_anti")
      .join(rid, col("dst") === col("__rid"), "left_anti")
    val edges1 = priorTomb.fold(edges0)(tb =>
      retractIds(retractIds(edges0, "src", tb), "dst", tb))
    // all four relations rewrite blue/green into nt's FRESH tables and
    // dirs — no ordering is load-bearing (a crash mid-takedown leaves
    // `t` intact and the re-run overwrites every nt relation), so the
    // four corpus-sized writes run concurrently (guide §2.6)
    Actions.inParallel(Seq(
      () => writeMembership(untouched.union(comps.select(col("id").as(idCol),
        col("cluster"))), idCol, nt, SaveMode.Overwrite),
      () => writeBucketed(priorTomb.fold(posts0)(retractIds(posts0, idCol, _)),
        nt.postTable, pb, nt.numBuckets, path = Some(nt.postPath)),
      () => writeBucketed(edges1, nt.edgeTable, Seq("src"), nt.numBuckets,
        path = Some(nt.edgePath)),
      () => writeEmptyAlias(spark, nt)))
  }

  private def gramKeys(df: DataFrame, textCol: Column, n: Int): DataFrame =
    df.select(col("*"),
        explode(array_distinct(Dedup.wordNGrams(textCol, n))).as("__g"))
      .withColumn("__g1", xxhash64(col("__g")))
      .withColumn("__g2", xxhash64(col("__g"), lit(1)))
      .drop("__g")
}
