package graft.operators

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.text

/** Deduplication operator family (SURVEY §2.4, D1-D8).
  *
  * All exact variants are expressed as composite-key + window/`max_by`
  * aggregations — one shuffle on the dedup key, no driver
  * materialization, no reliance on implicit row order (the reference's
  * pandas `drop_duplicates(keep='last')` depends on insertion order,
  * /root/reference/src/transforms/deduplicators.py:95-118; here the
  * keep policy is an explicit ORDER BY, which is the only definition
  * that survives a distributed shuffle).
  *
  * Scale notes (100 TB design point):
  *  - keepFirst/keepLast/keepBest are a single hash-partitioned
  *    aggregation (`max_by`/`min_by` over a struct) — partial
  *    aggregation happens map-side, so heavy duplicate skew collapses
  *    before the shuffle.
  *  - fuzzy dedup never collects duplicate ids to the driver (the
  *    reference does, src/scala_examples/SparkDedup.scala:63-67);
  *    removal is a `left_anti` join.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")

  /** D1 composite normalized key over the given columns (F8+F9). */
  def compositeKey(cols: Seq[String]): Column =
    text.dedup_key(cols.map(col): _*)

  /** D1/D2/D3/D7 generalized: keep exactly one row per key, the one
    * maximizing `order` (ties broken deterministically by `tieBreak`).
    * Implemented with `max_by(struct(allCols), struct(order, tieBreak))`
    * — single aggregation, map-side partial combine. */
  def keepBest(df: DataFrame, key: Column, order: Seq[Column]): DataFrame = {
    val valueStruct = struct(df.columns.toIndexedSeq.map(col): _*)
    val ordStruct = struct(order: _*)
    df.groupBy(key.as("__key"))
      .agg(max_by(valueStruct, ordStruct).as("__best"))
      .select("__best.*")
  }

  /** Window-based variant: keeps the first full row per key under the
    * given ordering (which may use asc/desc SortOrder). */
  def keepBestWindow(df: DataFrame, key: Column, order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** D4 — column-subset exact dedup (arbitrary keep). */
  def dropDuplicates(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** D8 — duplicate statistics without removal: one aggregation over
    * the key, then a single-row rollup. */
  def duplicateStats(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val groups = df.groupBy(compositeKey(keyCols).as("dup_key")).agg(count(lit(1)).as("n"))
    groups.agg(
      sum(col("n")).as("total_records"),
      count(lit(1)).as("unique_records"),
      (sum(col("n")) - count(lit(1))).as("duplicate_records"),
      round((sum(col("n")) - count(lit(1))) / sum(col("n")), 6).as("duplicate_rate"),
      sum(when(col("n") > 1, lit(1)).otherwise(lit(0))).as("groups_with_duplicates"),
      max(col("n")).as("largest_group_size"))
  }

  /** D5 — MinHash-LSH fuzzy dedup (J2+J3), seeds pinned for
    * reproducibility (SURVEY §7.4 risk 4).
    *
    * Pipeline: tokenize → HashingTF(numFeatures) → MinHashLSH
    * (numHashTables) → approxSimilarityJoin(self) at `threshold`
    * Jaccard distance → canonical pair orientation (idA < idB) →
    * left_anti join removes the non-canonical member of each pair.
    * The LSH join shuffle-partitions on band hashes, so cost is
    * O(n·k) not O(n²) — the rewrite that took the reference from 48 h
    * to 12 min (ADR-003:165-189) is structural here.
    */
  def fuzzyDedup(
      df: DataFrame,
      idCol: String,
      textCol: Column,
      threshold: Double = 0.2,
      numFeatures: Int = 1 << 14,
      numHashTables: Int = 5,
      shingleSize: Int = 1): DataFrame = {
    // Word shingles (n-grams of tokens) instead of bare tokens when
    // shingleSize > 1: documents that merely share vocabulary stop
    // colliding (their shingle sets are near-disjoint), which collapses
    // the LSH candidate-pair count — the difference between O(n·k) and
    // an accidental O(n²) when the corpus has a small vocabulary.
    // Bare tokens (shingleSize=1) match the reference's SparkDedup
    // featurization for short sentence pairs.
    val tokens = spreadWide(df).select(col(idCol), shingles(textCol, shingleSize).as("__tokens"))
      .filter(size(col("__tokens")) > 0)
    val tf = new HashingTF()
      .setInputCol("__tokens").setOutputCol("__features")
      .setNumFeatures(numFeatures)
    fuzzyDedupFromFeatured(df, idCol, tf.transform(tokens), threshold, numHashTables)
  }

  /** [[fuzzyDedup]] over an ALREADY-featurized frame (a `__features`
    * column in [[fuzzyDedup]]'s HashingTF shape): the shingle+hash
    * featurization is the operator's expensive narrow map, so a caller
    * that computed it — e.g. to export model state — should not pay it
    * twice. Same fit/join/anti-join pipeline and cache discipline:
    * the featurized frame is scanned three times (LSH fit + both sides
    * of the self-join) — the same reuse the reference caches
    * (SparkDedup.scala:43). The dup-id set (small: ids only) is
    * eagerly local-checkpointed while the cache is hot, which cuts the
    * lineage so the cache can be released before returning the
    * still-lazy anti-join. */
  def fuzzyDedupFromFeatured(
      df: DataFrame, idCol: String, featuredDf: DataFrame,
      threshold: Double = 0.2, numHashTables: Int = 5): DataFrame = {
    val featured = featuredDf.cache()
    try {
      val lsh = new MinHashLSH()
        .setInputCol("__features").setOutputCol("__hashes")
        .setNumHashTables(numHashTables)
        .setSeed(42L)
      val model = lsh.fit(featured)
      val pairs = model
        .approxSimilarityJoin(featured, featured, threshold, "jaccard_distance")
        .select(
          col(s"datasetA.$idCol").as("id_a"),
          col(s"datasetB.$idCol").as("id_b"))
        .filter(col("id_a") < col("id_b"))
      val dupIds = pairs.select(col("id_b").as(idCol)).distinct()
        .localCheckpoint(true)
      df.join(dupIds, Seq(idCol), "left_anti")
    } finally featured.unpersist(blocking = false)
  }

  /** SimHash near-duplicate signature (64-bit) from a token array —
    * native Catalyst expression with codegen (graft.functions.SimHash64);
    * documents whose signatures agree are near-dup candidates. */
  def simhash(tokens: Column): Column =
    graft.functions.text.expr2col(
      graft.functions.SimHash64(graft.functions.text.col2expr(tokens)))

  /** Word shingles of size n ("a b c d",2 → ["a b","b c","c d"]) over
    * `split(textCol, "\\s+")` fields; texts of at most n fields
    * collapse to a single whole-text shingle. The native
    * [[graft.functions.Shingles]] kernel, whose splitter also feeds the
    * MinHash signing kernel ([[minhashSigCol]]). */
  def shingles(textCol: Column, n: Int): Column =
    text.expr2col(graft.functions.Shingles(text.col2expr(textCol), n))

  private def minhashSig(tokens: Column, numPerm: Int): Column =
    graft.functions.text.expr2col(
      graft.functions.MinHashSig(graft.functions.text.col2expr(tokens), numPerm))

  private[graft] def minhashSigForTest(tokens: Column, numPerm: Int = 256): Column =
    minhashSig(tokens, numPerm)

  /** The MinHash band key: one `(band, bucket)` struct per band, exploded,
    * where `bucket` is the xxhash64 of the band's `r` signature slots
    * (AND within a band, OR across bands), computed by the native
    * [[graft.functions.MinHashBandKeys]] kernel. The one definition
    * behind batch dedup, [[minhashDedupAgainst]] and the persisted text
    * state ([[Incremental.banded]]) — state rows and their probes must
    * hash identically. */
  private[graft] def minhashBandKeys(sig: Column, bands: Int, r: Int): Column =
    explode(text.expr2col(graft.functions.MinHashBandKeys(text.col2expr(sig), bands, r)))

  /** Candidate `(id_a, id_b)` pairs (`id_a < id_b`) of an already-signed
    * frame `(idCol, __sig)` whose estimated Jaccard — the signature
    * agreement fraction — meets `threshold`: the banded-LSH enumeration
    * behind [[minhashDedup]], the text waves' in-wave pairs, and exposed
    * so skew bounds are spec-testable.
    *
    * Banding r = numPerm / bands slots per band gives AND-amplification
    * within a band and OR across bands — P(candidate) = 1 − (1 − J^r)^b
    * — which suppresses sub-threshold pairs exponentially (spark.ml's
    * MinHashLSH, behind [[fuzzyDedup]], has only the OR side).
    *
    * Plan: the ids-only banded rows `(id, band, bucket)` cross ONE
    * hash exchange on `(band, bucket)`; a window over it attaches each
    * bucket's size and min id, and everything downstream reads that
    * partitioning.
    *  - Buckets of at most `maxBucketSize` members self-join on
    *    `(band, bucket)`: all member pairs.
    *  - Larger buckets (near-identical boilerplate colliding in every
    *    band, O(B²) pairs per band) emit star pairs `(min id, id)`
    *    directly, with no join — B−1 pairs. On the near-clique that
    *    makes such buckets the star reaches the same removable set,
    *    since every member verifies against the min; a member of an
    *    oversized MIXED bucket that only matches some non-min member
    *    can be missed there, but it still collides with it in the
    *    other bands' smaller buckets.
    * The signature never rides the banded rows (a numPerm-long array
    * crossing a ×bands exchange measured 5 GB vs 130 MB ids-only on a
    * 150k-doc rehearsal). */
  private[graft] def candidatesFromSig(
      withSig: DataFrame, idCol: String,
      threshold: Double, numPerm: Int, bands: Int,
      maxBucketSize: Int): DataFrame = {
    val r = numPerm / bands
    val bucket = Window.partitionBy(col("band"), col("bucket"))
    val banded = withSig.select(col(idCol),
        minhashBandKeys(col("__sig"), bands, r).as("__b"))
      .select(col(idCol), col("__b.band"), col("__b.bucket"))
      .withColumn("__bsz", count(lit(1)).over(bucket))
      .withColumn("__bmin", min(col(idCol)).over(bucket))
    // the literally-same frame on both sides, already partitioned and
    // sorted on (band, bucket) by the window: the join adds no exchange
    val small = banded.filter(col("__bsz") <= maxBucketSize)
      .select(col(idCol), col("band"), col("bucket"))
    val smallPairs = small.as("l").join(small.as("r"), Seq("band", "bucket"))
      .filter(col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
    val bigPairs = banded
      .filter(col("__bsz") > maxBucketSize && col(idCol) =!= col("__bmin"))
      .select(col("__bmin").as("id_a"), col(idCol).as("id_b"))
    // a pair colliding in k bands is distinct'd to ONE 16-byte row
    // BEFORE the verify; signatures re-attach to the few unique
    // candidates by id, and the (numPerm-position) native agreement
    // kernel runs once per pair instead of once per colliding band.
    def estJaccard(x: Column, y: Column): Column =
      text.expr2col(graft.functions.SigAgreeCount(
        text.col2expr(x), text.col2expr(y))).cast("double") / numPerm
    val sa = withSig.select(col(idCol).as("id_a"), col("__sig").as("__siga"))
    val sb = withSig.select(col(idCol).as("id_b"), col("__sig").as("__sigb"))
    smallPairs.union(bigPairs).distinct()
      .join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .filter(estJaccard(col("__siga"), col("__sigb")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** The MinHash signature of a text: `numPerm` slots over the
    * `shingleSize`-word shingles of its normalized form. The one signing
    * expression behind [[minhashSignatures]] and the text wave loop, so
    * state rows and their probes sign identically. */
  private[graft] def minhashSigCol(textCol: Column, numPerm: Int,
      shingleSize: Int): Column =
    text.expr2col(graft.functions.ShingleMinHash(
      text.col2expr(text.norm_key(textCol)), shingleSize, numPerm))

  private[graft] def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: Column,
      threshold: Double,
      numPerm: Int,
      bands: Int,
      shingleSize: Int,
      maxBucketSize: Int): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    // the candidate plan reads the signed frame from three subplans
    // (banded rows + both re-attach sides) — the standalone entry
    // point leaves it lazy so plan-shape specs can inspect the full
    // tree; minhashDedup persists it around this call.
    candidatesFromSig(minhashSignatures(df, idCol, textCol, numPerm, shingleSize),
      idCol, threshold, numPerm, bands, maxBucketSize)
  }

  def minhashDedup(
      df: DataFrame,
      idCol: String,
      textCol: Column,
      threshold: Double = 0.8,
      numPerm: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 3,
      maxBucketSize: Int = 1024): DataFrame =
    minhashDedupFromSigs(df, idCol,
      minhashSignatures(df, idCol, textCol, numPerm, shingleSize),
      threshold, numPerm, bands, maxBucketSize)

  /** Persistable MinHash signature table `(idCol, __sig)` — compute
    * ONCE per corpus and store as parquet: incremental ingestion then
    * dedups a new batch against the corpus by reading signatures
    * (numPerm longs/doc), never re-reading corpus text. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: Column,
      numPerm: Int = 128, shingleSize: Int = 3): DataFrame =
    spreadWide(df).select(col(idCol),
      minhashSigCol(textCol, numPerm, shingleSize).as("__sig"))

  /** [[minhashDedup]] over an ALREADY-computed signature table
    * `(idCol, __sig)` (a [[minhashSignatures]] product, typically read
    * back from parquet): signatures are the operator's expensive
    * narrow map, so a caller that has them persisted — the recurring-
    * ingestion shape, or a query that just exported them — should not
    * pay the shingle+hash pass twice. Same candidate/verify/anti-join
    * pipeline and the same cache discipline; `sigDf` must cover
    * exactly `df`'s rows with `numPerm`-long signatures. */
  def minhashDedupFromSigs(
      df: DataFrame, idCol: String, sigDf: DataFrame,
      threshold: Double = 0.8,
      numPerm: Int = 128,
      bands: Int = 32,
      maxBucketSize: Int = 1024): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    // signatures are the expensive narrow map (numPerm hashes per
    // shingle); the candidate plan references the signed frame from
    // three subplans (the banded rows + both re-attach sides), so
    // persist it for the duration of the dup-id computation — same
    // cache-then-localCheckpoint discipline as fuzzyDedup: the dup-id
    // set (ids only) is materialized eagerly, the cache released, and
    // the returned anti-join stays lazy.
    val withSig = sigDf
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Materialize the cache EAGERLY: the candidate plan fans out into
      // independent map stages (the banded exchange, both re-attach
      // sides) that AQE submits concurrently — against a lazy cache
      // they all miss and each recomputes the full signature pass
      // (observable as "Block rdd_N already exists" warnings and a
      // multiplied signature cost). One count() populates the cache
      // first, so the fan-out reads blocks.
      withSig.count()
      val dupIds = candidatesFromSig(withSig, idCol, threshold, numPerm, bands, maxBucketSize)
        .select(col("id_b").as(idCol)).distinct()
        .localCheckpoint(true)
      df.join(dupIds, Seq(idCol), "left_anti")
    } finally withSig.unpersist(blocking = false)
  }

  /** Incremental near-dup removal: drop every `incoming` row whose
    * estimated Jaccard against ANY row of the (typically precomputed,
    * [[minhashSignatures]]-persisted) corpus signature table meets
    * `threshold`. The growth path of a deduplicated corpus: the corpus
    * is never re-scanned, the bipartite banded bucket join touches
    * only hash-colliding (incoming, corpus) pairs, and removal is a
    * left_anti on incoming ids. Follow with [[minhashDedup]] on the
    * survivors to dedup the batch against itself, then append.
    *
    * Envelope: bucket sizes are corpus-driven; a corpus already
    * deduped at the same threshold cannot hold mega-buckets of mutual
    * near-dups, so the join stays hit-proportional (pre-dedup
    * templated corpora should pass through [[minhashDedup]] first). */
  def minhashDedupAgainst(
      incoming: DataFrame, idCol: String, textCol: Column,
      corpusSigned: DataFrame,
      threshold: Double = 0.8,
      numPerm: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 3): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val r = numPerm / bands
    // ids-only banded rows — the band explode multiplies every row by
    // `bands`, so a signature riding it crosses the (band, bucket)
    // exchange `bands` TIMES over (the corpus side of this bipartite
    // join is the big one). Bucket-collide on ids, distinct the
    // candidate pairs, and re-attach each side's signature ONCE by id
    // for a single verify per pair — the corpus signature table is
    // then read twice (banding + re-attach) but its arrays never ride
    // a banded exchange. [[graft.operators.Incremental
    // .minhashDedupAgainstTable]] is the variant where pre-banded
    // sig-carrying state is the right trade (it arrives bucket-aligned
    // from disk with no exchange at all).
    def banded(sigDf: DataFrame, idC: String, side: String): DataFrame =
      sigDf.select(col(idC).as(s"__id$side"),
          minhashBandKeys(col("__sig"), bands, r).as("__b"))
        .select(col(s"__id$side"), col("__b.band"), col("__b.bucket"))
    def estJaccard(x: Column, y: Column): Column =
      text.expr2col(graft.functions.SigAgreeCount(
        text.col2expr(x), text.col2expr(y))).cast("double") / numPerm
    val corpusIdCol = corpusSigned.columns.head
    val incSigned = minhashSignatures(incoming, idCol, textCol, numPerm, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      incSigned.count() // eager: referenced by the banding AND the re-attach
      val cand = banded(incSigned, idCol, "I")
        .join(banded(corpusSigned, corpusIdCol, "C"), Seq("band", "bucket"))
        .select(col("__idI"), col("__idC")).distinct()
      val dupIds = cand
        .join(incSigned.select(col(idCol).as("__idI"), col("__sig").as("__sigI")), Seq("__idI"))
        .join(corpusSigned.select(col(corpusIdCol).as("__idC"), col("__sig").as("__sigC")),
          Seq("__idC"))
        .filter(estJaccard(col("__sigI"), col("__sigC")) >= threshold)
        .select(col("__idI").as(idCol)).distinct()
        .localCheckpoint(true)
      incoming.join(dupIds, Seq(idCol), "left_anti")
    } finally incSigned.unpersist(blocking = false)
  }

  /** The 64-bit SimHash signature of a text column, exactly as the
    * SimHash operator family computes it (whitespace tokens of the
    * normalized key). Exposed so queries can EXPORT signatures for the
    * DuckDB oracle, which replays the SQL-expressible grouping /
    * Hamming semantics (xor + bit_count) over them. */
  def simhashSignature(textCol: Column): Column =
    simhash(split(text.norm_key(textCol), "\\s+"))

  /** Exact-dedup by SimHash band equality: groups rows whose simhash
    * agree on all 4 16-bit bands (cheap near-dup bucketing; a
    * candidate-verify pass can follow). */
  def simhashDedup(df: DataFrame, idCol: String, textCol: Column): DataFrame = {
    val sig = simhashSignature(textCol)
    keepBestWindow(spreadWide(df).withColumn("__sig", sig), col("__sig"), Seq(col(idCol).asc))
      .drop("__sig")
  }

  /** Near-dup pairs `(id_a < id_b)` within a TRUE Hamming budget on
    * the 64-bit SimHash: [[hammingNearDupPairs]] over
    * [[simhashSignature]], projected to the id pair. [[simhashDedup]]
    * only groups exact signature equality, which misses the near-dups
    * SimHash exists to find (a one-word edit flips a few signature
    * bits). Exact: the pigeonhole banding never misses a within-budget
    * pair and the popcount verify admits nothing else (the semantic
    * approximation lives in SimHash itself). The output is quadratic in
    * a group of rows sharing one signature, as any pair list is; to
    * DROP near-dups use [[simhashNearDedup]], which never lists them. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: Column,
      maxHamming: Int = 3): DataFrame =
    hammingIdPairs(hammingGroups(simhashSigs(df, idCol, textCol), idCol, "__sig", Nil,
        spread = false), maxHamming)
      .select(col("id_a"), col("id_b"))
      .distinct()

  // spread before signing: the signature map is the heavy narrow step
  private def simhashSigs(df: DataFrame, idCol: String, textCol: Column): DataFrame =
    spreadWide(df).select(col(idCol), simhashSignature(textCol).as("__sig"))

  /** Near-duplicate id pairs over ANY precomputed 64-bit signature
    * frame `(<idCol>, <sigCol>)`: every (id_a < id_b, dist) with
    * popcount(sig_a XOR sig_b) ≤ maxHamming — EXACT output (the
    * pigeonhole banding never misses a within-budget pair). Null
    * signatures never pair. Banding runs per distinct (shard, value)
    * ([[hammingGroups]]), so a repeated signature is one bucket row
    * however many rows carry it; the pair LIST is still quadratic in
    * such a group, so a caller that only drops near-dups uses
    * [[hammingDupIds]], which stays linear. The shared engine under
    * the image (aHash/dHash) and audio ([[Audio]] energy-contour hash)
    * perceptual pair families.
    *
    * '''`shardCols` — the >10⁶-signature escape hatch.''' The batch
    * self-join's candidate mass is quadratic in DISTINCT signatures
    * per join (healthy to ~10⁶; SCALING.md's envelope). When a corpus
    * has an orthogonal partition no duplicate should cross anyway —
    * source site, ingest day, tenant — folding it into the band join
    * key bounds each n to the shard's size: pairs are only sought
    * WITHIN equal shard values (the semantic change is the point:
    * cross-shard pairs are declared out of scope, exactly like
    * [[graft.operators.Video.clipNearDupPairs]] scoping frame pairs
    * to equal positions). NULL shard values form ONE group (the
    * groupBy convention, via null-safe struct equality) — a raw
    * equi-join would silently exempt null-shard rows from dedup. */
  def hammingNearDupPairs(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, shardCols: Seq[String] = Nil): DataFrame =
    hammingIdPairs(hammingGroups(sigs, idCol, sigCol, shardCols, spread = true), maxHamming)
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ham_sa").bitwiseXOR(col("__ham_sb"))).as("dist"))
      .distinct()

  /** The ids [[hammingNearDupPairs]] would list as `id_b` — every row
    * within `maxHamming` bits of a LOWER-id row of its shard — without
    * listing a pair: the drop set of the keep-lowest-id near-dedup
    * (image, audio, SimHash, the media wave). An id may repeat when it
    * carries several signatures. Linear in rows plus value pairs: a
    * group of n rows sharing one signature costs one bucket row and
    * drops n − 1 ids, where the pair list would hold n(n − 1)/2. */
  def hammingDupIds(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, shardCols: Seq[String] = Nil): DataFrame =
    dupIdsOf(hammingGroups(sigs, idCol, sigCol, shardCols, spread = true), idCol, maxHamming)

  /** One row per distinct (shard, signature value) of `sigs`: the
    * `__shard` struct (with `shardCols` only; Spark struct equality is
    * null-safe, so a NULL shard value forms a real group), the value
    * `__ham_s` and its ids `__ham_ids`. Both sides' bands and the drop
    * decision read this one aggregate through one exchange, so the
    * signatures are read (and computed) once. Rows with a null signature collect no id, so
    * they never pair; the key is non-nullable, so no join above infers
    * an `isnotnull` filter that would re-evaluate the signature below
    * the aggregate. `spread` runs [[spreadWide]] first (off when the
    * caller spread before computing the signature). */
  private[graft] def hammingGroups(sigs: DataFrame, idCol: String, sigCol: String,
      shardCols: Seq[String], spread: Boolean): DataFrame = {
    val sig = col(sigCol).cast("long")
    val rows = sigs.select(((if (shardCols.nonEmpty) Seq(struct(shardCols.map(col): _*).as("__shard"))
        else Nil) ++ Seq(coalesce(sig, lit(0L)).as("__ham_s"),
        when(sig.isNotNull, col(idCol)).as("__ham_id"))): _*)
    val keys = (if (shardCols.nonEmpty) Seq("__shard") else Nil) :+ "__ham_s"
    (if (spread) spreadWide(rows) else rows)
      .groupBy(keys.map(col): _*).agg(collect_list(col("__ham_id")).as("__ham_ids"))
      .filter(size(col("__ham_ids")) > 0)
  }

  private def groupKeys(groups: DataFrame): Seq[String] =
    groups.columns.filter(_ == "__shard").toSeq :+ "__ham_s"

  /** The id pairs behind every batch Hamming self join, from
    * [[hammingGroups]]: each group's ids ride its band rows, so every
    * within-budget value pair (once, in its first meeting band) expands
    * to its id pairs with no join back. Rows `(id_a < id_b, __ham_sa,
    * __ham_sb[, __shard])`; an id with several signatures can repeat a
    * pair, so callers project and distinct. */
  private[graft] def hammingIdPairs(groups: DataFrame, maxHamming: Int): DataFrame = {
    val shard = groupKeys(groups).init.map(col)
    hammingBandJoin(groups, groups, maxHamming, strict = false, carry = Seq("__ham_ids"))
      .select(shard ++ Seq(col("__ham_sa"), col("__ham_sb"),
        explode(col("__ham_ids_a")).as("id_a"), col("__ham_ids_b")): _*)
      .select(shard ++ Seq(col("__ham_sa"), col("__ham_sb"), col("id_a"),
        explode(col("__ham_ids_b")).as("id_b")): _*)
      .filter(col("id_a") < col("id_b"))
  }

  /** [[hammingDupIds]] over [[hammingGroups]]: id x of value v drops
    * iff some value u within budget of v (v itself included) holds an
    * id below x, i.e. iff x > min over those u of min(ids(u)). The band
    * rows carry each group's min id; a value pair whose left min exceeds
    * the right's can drop nothing v's own min does not (x > min(u) >
    * min(v)), so it is filtered in the join. */
  private def dupIdsOf(groups: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    val keys = groupKeys(groups)
    val mins = groups.select(keys.map(col) :+ array_min(col("__ham_ids")).as("__ham_min"): _*)
    val lowest = hammingBandJoin(mins, mins, maxHamming, strict = false, carry = Seq("__ham_min"))
      .filter(col("__ham_min_a") <= col("__ham_min_b"))
      .groupBy(keys.init.map(col) :+ col("__ham_sb").as("__ham_s"): _*)
      .agg(min(col("__ham_min_a")).as("__ham_low"))
    groups.join(lowest, keys)
      .select(explode(filter(col("__ham_ids"), _ > col("__ham_low"))).as(idCol))
  }

  /** Driver-side pigeonhole index over a BOUNDED 64-bit signature set
    * — a media BLOCKLIST (flagged imagery, licensed content,
    * takedown signatures: request-scale, thousands to low millions,
    * NOT corpus-scale; for corpus-scale recurring dedup use
    * [[Incremental.writeHammingState]]). Per band: bucket-sorted
    * (buckets, sigs) arrays, ~16(k+1) B per signature. Feed to
    * [[hammingNearSet]] / [[graft.streaming.StreamOps
    * .hammingBlockGateStream]]. */
  /** A driver-built pigeonhole blocklist index. Carries the
    * `maxHamming` it was banded with so a probe can never be issued
    * at a DIFFERENT band layout — a mismatch would silently produce
    * false negatives, the one failure a compliance gate must not
    * have. Construct only via [[hammingIndex]]. */
  final case class HammingIndex(maxHamming: Int,
      buckets: Array[Array[Long]], sigs: Array[Array[Long]])

  def hammingIndex(df: DataFrame, sigCol: String,
      maxHamming: Int, maxSignatures: Int = 4_000_000): HammingIndex = {
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming must be in [0, 32)")
    val vals = df.select(col(sigCol).cast("long"))
      .filter(col(sigCol).isNotNull).distinct()
      .collect().map(_.getLong(0))
    // the index is embedded in the codegen'd probe via addReferenceObj
    // — ~16·(maxHamming + 2) bytes per signature ride the PLAN into
    // every task binary. Request-scale inputs (blocklists) fit; a
    // corpus-scale input would OOM the driver or bloat tasks silently,
    // so refuse it loudly and name the corpus-scale path. The bound
    // is a PARAMETER (default 4M ≈ 0.5+ GB serialized): an operator
    // who accepts the task-binary weight for a bigger blocklist
    // raises it explicitly instead of being hard-walled.
    require(vals.length <= maxSignatures,
      s"hammingIndex: ${vals.length} distinct signatures exceeds the " +
        s"$maxSignatures driver-index bound (~16·(maxHamming+2) B each, " +
        "serialized with the plan into every task). Raise maxSignatures " +
        "to accept the weight knowingly; corpus-scale recurring dedup " +
        "is Incremental.writeHammingState + hammingDupIdsAgainstTable " +
        "(bucketed state, batch-sized probes).")
    if (vals.length > maxSignatures / 4)
      System.err.println(s"[graft] hammingIndex: ${vals.length} distinct " +
        s"signatures — approaching the $maxSignatures driver-index " +
        "bound; consider Incremental.writeHammingState for corpus-scale " +
        "sets")
    val nBands = maxHamming + 1
    val buckets = Array.ofDim[Array[Long]](nBands)
    val sigs = Array.ofDim[Array[Long]](nBands)
    var b = 0
    while (b < nBands) {
      val pairs = vals
        .map(v => (graft.functions.Bits.bandOf(v, b, maxHamming), v)).sortBy(_._1)
      buckets(b) = pairs.map(_._1)
      sigs(b) = pairs.map(_._2)
      b += 1
    }
    HammingIndex(maxHamming, buckets, sigs)
  }

  /** Boolean Column: is `sig` within the index's `maxHamming` bits of
    * any indexed signature? EXACT (pigeonhole — no false negatives,
    * and every candidate is popcount-verified, unlike the Bloom
    * gates), pure map-side codegen, streaming-legal in any output
    * mode. The Hamming budget comes from the index itself — the band
    * layout is fixed at build time. */
  def hammingNearSet(sig: Column, index: HammingIndex): Column =
    graft.functions.text.expr2col(graft.functions.HammingNearSet(
      graft.functions.text.col2expr(sig.cast("long")),
      index.maxHamming, index.buckets, index.sigs))

  /** DISTINCT 64-bit signature VALUE pairs `(__ham_sa, __ham_sb[,
    * __shard])` within a true Hamming budget across two frames, for
    * [[graft.plans.HammingJoinRewrite]], which joins them back to each
    * side's rows by signature equality: each side's distinct (shard,
    * value) rows through [[hammingBandJoin]]. `strict` verifies
    * `< maxHamming` instead of `<=` at the same banding width.
    * `shardCols` pack into ONE struct key (null-safe, as in
    * [[hammingGroups]]). Null signatures never pair. */
  private[graft] def hammingPairsValues(
      ldf: DataFrame, lsig: Column,
      rdf: DataFrame, rsig: Column,
      maxHamming: Int, strict: Boolean = false,
      shardCols: Seq[String] = Nil): DataFrame = {
    def values(df: DataFrame, sig: Column): DataFrame =
      df.select(((if (shardCols.nonEmpty) Seq(struct(shardCols.map(col): _*).as("__shard"))
          else Nil) :+ sig.cast("long").as("__ham_s")): _*)
        .filter(col("__ham_s").isNotNull).distinct()
    hammingBandJoin(values(ldf, lsig), values(rdf, rsig), maxHamming, strict, Nil)
  }

  /** The one Hamming pair enumerator, under [[hammingIdPairs]] (SimHash,
    * image, audio and video pairs), [[hammingDupIds]] and
    * [[hammingPairsValues]]. `l` and `r` hold distinct (`__shard`?,
    * `__ham_s`) rows plus `carry` columns; the result has one row per
    * value pair within the budget, `(__shard?, __ham_sa, __ham_sb)`
    * plus each carried `c` as `c_a` (left) and `c_b` (right). Band
    * layout [[graft.functions.Bits.bandRows]]: the exact `maxHamming +
    * 1` layout at small budgets, the 1-error multi-probe layout (the
    * right side emitting single-bit bucket flips) at `maxHamming ≥ 6`.
    * EXACT either way, and the popcount verify admits nothing else; a
    * pair is kept only in the first band it meets in
    * ([[graft.functions.Bits.firstMeeting]]), so it leaves the join
    * once. Logs the layout at WARN. */
  private def hammingBandJoin(l: DataFrame, r: DataFrame, maxHamming: Int,
      strict: Boolean, carry: Seq[String]): DataFrame = {
    val shard = groupKeys(l).init
    // on the exact layout both sides band alike, so a self join's band
    // rows are one plan that shuffles once (ReusedExchange)
    def banded(df: DataFrame, probe: Boolean): DataFrame =
      graft.functions.Bits.bandRows(df, "__ham_s", maxHamming, probe, groupKeys(l) ++ carry)
    val nBands = graft.functions.Bits.joinBands(maxHamming)
    log.warn(s"hamming pair join: maxHamming=$maxHamming, " +
      (if (nBands == maxHamming + 1) s"exact $nBands" else s"1-error probe $nBands") +
      s" bands, sharded=${shard.nonEmpty}")
    val (sa, sb) = (col("__l.__ham_s"), col("__r.__ham_s"))
    val dist = bit_count(sa.bitwiseXOR(sb))
    banded(l, probe = false).as("__l").join(banded(r, probe = true).as("__r"),
        shard ++ Seq("band", "bucket"))
      .filter((if (strict) dist < maxHamming else dist <= maxHamming) &&
        graft.functions.Bits.firstMeeting(col("band"), sa, sb, maxHamming))
      .select((shard.map(col) ++ Seq(sa.as("__ham_sa"), sb.as("__ham_sb")) ++
        carry.map(c => col(s"__l.$c").as(s"${c}_a")) ++
        carry.map(c => col(s"__r.$c").as(s"${c}_b"))): _*)
  }

  /** Hamming-budget SimHash dedup: drop every row within `maxHamming`
    * bits of a lower-id row ([[hammingDupIds]] over
    * [[simhashSignature]]; the ids [[simhashPairs]] lists as `id_b`,
    * without listing the pairs). Cluster-wide resolution: feed the pairs
    * to [[DupClusters.clusterDedup]] instead. Removal is a left_anti on
    * ids — never a driver-side set. */
  def simhashNearDedup(df: DataFrame, idCol: String, textCol: Column,
      maxHamming: Int = 3): DataFrame = {
    val dupIds = dupIdsOf(hammingGroups(simhashSigs(df, idCol, textCol), idCol, "__sig", Nil,
        spread = false), idCol, maxHamming)
      .localCheckpoint(true)
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** WITHIN-document line dedup — the scraped-page cleanup pass
    * [[dedupLines]] deliberately does not do: each document keeps only
    * the FIRST occurrence of every line it contains (repeated nav
    * blocks, duplicated paragraphs from templating bugs), in original
    * order; other documents never influence the decision. Entirely
    * per-document: one posexplode, one (doc, line) first-position
    * aggregation, one ordered reassembly — no cross-document state at
    * all, so the operator is embarrassingly parallel at any scale.
    * SQL-expressible end to end (q113 hash-gates it). */
  def dedupLinesWithinDoc(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__line")))
    val rebuilt = lines
      .groupBy(col(idCol), col("__line"))
      .agg(min(col("__pos")).as("__pos"))
      .groupBy(col(idCol))
      .agg(concat_ws(sep,
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line"))).as("__text"))
    df.drop(textCol).join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__text"), lit("")))
      .drop("__text")
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** Cross-document LINE dedup — the CCNet/RefinedWeb boilerplate
    * pass: a line occurring in `minDocs`+ DISTINCT documents (nav
    * menus, cookie banners, licence footers) is removed from EVERY
    * document; in-document repetition alone never triggers removal.
    * Documents keep their surviving lines in original order (empty
    * string when nothing survives); all non-text columns pass through.
    *
    * Scale shape: one posexplode, one (line → distinct-doc count)
    * aggregation — partial aggregation compresses the heavy boilerplate
    * keys map-side — one left_anti on the line, one per-doc
    * reassembly aggregation. Nothing driver-side. At 100 TB set
    * `keyByDigest = true`: the count and anti-join shuffle a 128-bit
    * line digest (two independent xxhash64 seeds) instead of raw line
    * strings — same plan, ~16-byte keys instead of whole lines, at
    * the CCNet-standard cost of treating digest-colliding lines as
    * equal (2⁻¹²⁸-scale). The raw-string default keeps the operator
    * exactly SQL-expressible for the oracle. */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 2, sep: String = "\n",
      keyByDigest: Boolean = false): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would remove every line")
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__line")))
    val key: Column => Column =
      if (keyByDigest) c => struct(xxhash64(c), xxhash64(c, lit(0x9e3779b9L)))
      else c => c
    val boilerplate = lines.groupBy(key(col("__line")).as("__k"))
      .agg(count_distinct(col(idCol)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select("__k")
    val rebuilt = lines.withColumn("__k", key(col("__line")))
      .join(boilerplate, Seq("__k"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(sep,
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line"))).as("__text"))
    df.drop(textCol).join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__text"), lit("")))
      .drop("__text")
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** Cross-document duplicated-SPAN profile — the scalable stand-in
    * for exact-substring dedup (the suffix-array pass of
    * "Deduplicating Training Data Makes Language Models Better"):
    * every `spanWords`-word window of each document (word-boundary
    * anchored, so a shared run matches at ANY byte offset —
    * fixed-stride char windows only match offset-aligned copies) is
    * counted across distinct documents, and each doc reports how much
    * of it consists of spans that also appear in `minDocs`+ documents.
    * Long verbatim overlaps (mirrored articles, quoted boilerplate,
    * near-dup clusters) surface as a high `dup_span_frac` even when
    * full-document fuzzy dedup misses them; pipe high scorers into
    * [[minhashDedup]]/[[jaccardPairs]] for removal decisions.
    *
    * Output per doc with ≥ `spanWords` words: `n_spans`, `dup_spans`
    * (with multiplicity), `dup_span_frac` (integer-ratio,
    * hash-oracle-safe). Shorter docs have no spans and no row.
    *
    * Scale shape mirrors [[dedupLines]]: one explode (≈word-count
    * rows per doc, generated by the native [[wordNGrams]] kernel), one
    * (span → distinct-doc count) aggregation, one flag join, one
    * per-doc rollup. `keyByDigest = true` shuffles 128-bit span
    * digests instead of raw span strings — the 100 TB form. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: Column,
      spanWords: Int = 8, minDocs: Int = 2,
      keyByDigest: Boolean = false): DataFrame = {
    require(spanWords >= 1, "spanWords must be >= 1")
    require(minDocs >= 2, "minDocs < 2 would flag every span")
    val spans = spreadWide(df.select(col(idCol), textCol.as("__t")))
      .select(col(idCol), explode(wordNGrams(col("__t"), spanWords)).as("__span"))
    val key: Column => Column =
      if (keyByDigest) c => struct(xxhash64(c), xxhash64(c, lit(0x9e3779b9L)))
      else c => c
    val dup = spans.groupBy(key(col("__span")).as("__k"))
      .agg(count_distinct(col(idCol)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__k"), lit(1L).as("__dup"))
    spans.withColumn("__k", key(col("__span")))
      .join(dup, Seq("__k"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(coalesce(col("__dup"), lit(0L))).as("dup_spans"))
      .withColumn("dup_span_frac",
        round(col("dup_spans").cast("double") / col("n_spans"), 6))
  }

  /** VERBATIM-overlap benchmark contamination profile — flag corpus
    * documents sharing any `nWords`-word gram with an evaluation set
    * (the GPT-3/Pile rule: a training doc containing a verbatim eval
    * n-gram leaks the benchmark into training; 13 grams is the
    * published default, tunable down for short eval items). The fuzzy
    * whole-document sibling is [[decontaminate]] (n-gram Jaccard ≥ t
    * against any eval doc); this one catches the QUOTED-span leak a
    * document-level similarity misses — an eval question pasted into
    * an otherwise-unrelated page. Output: every corpus row plus
    * `n_grams` (spans in the doc), `hit_grams` (spans, WITH
    * multiplicity, that also appear anywhere in the eval set) and
    * `contaminated` (hit_grams > 0). Docs shorter than `nWords` words
    * have zero grams and are clean by definition. Filter
    * `!contaminated` for the training cut; keep the flag for audits.
    *
    * Scale shape: the eval set is benchmark-sized while the corpus is
    * the 100 TB side — eval grams are distinct'd to a small set and
    * BROADCAST, so the corpus gram stream semi-joins map-side and the
    * big side never shuffles on gram. `broadcastEval = false` falls
    * back to a hash join for an oversized eval union; `keyByDigest`
    * joins on 128-bit gram digests instead of raw strings (the wire
    * format at scale — grams are ~nWords·6 bytes each). */
  def contaminationProfile(corpus: DataFrame, idCol: String, textCol: Column,
      evalSet: DataFrame, evalTextCol: Column, nWords: Int = 13,
      broadcastEval: Boolean = true, keyByDigest: Boolean = false): DataFrame = {
    require(nWords >= 1, "nWords must be >= 1")
    val key: Column => Column =
      if (keyByDigest) c => struct(xxhash64(c), xxhash64(c, lit(0x9e3779b9L)))
      else c => c
    val evalGrams0 = evalSet
      .select(explode(wordNGrams(evalTextCol, nWords)).as("__g"))
      .select(key(col("__g")).as("__k")).distinct()
    val evalGrams = (if (broadcastEval) broadcast(evalGrams0) else evalGrams0)
      .withColumn("__hit", lit(1L))
    val grams = spreadWide(corpus.select(col(idCol), textCol.as("__t")))
      .select(col(idCol), explode_outer(wordNGrams(col("__t"), nWords)).as("__g"))
    val profile = grams
      .withColumn("__k", key(col("__g")))
      .join(evalGrams, Seq("__k"), "left")
      .groupBy(col(idCol))
      .agg(
        count(col("__g")).as("n_grams"),
        sum(when(col("__g").isNotNull, coalesce(col("__hit"), lit(0L)))
          .otherwise(lit(0L))).as("hit_grams"))
    corpus.join(profile, Seq(idCol), "left")
      .withColumn("n_grams", coalesce(col("n_grams"), lit(0L)))
      .withColumn("hit_grams", coalesce(col("hit_grams"), lit(0L)))
      .withColumn("contaminated", col("hit_grams") > 0L)
  }

  /** [[contaminationProfile]] for an eval set too large to broadcast
    * as a distinct gram table or collect as a digest array: eval gram
    * digests are folded into a Bloom filter (~3.6 BYTES per gram at
    * fpp=1e-6 vs 8 for a raw digest) and the whole corpus-side
    * profile becomes ONE map — no explode past the gram kernel, no
    * join, no shuffle at all; `n_grams`/`hit_grams` come from `size`
    * and the [[graft.functions.CountInBloom]] membership kernel over
    * the per-document digest array. Same output columns as
    * [[contaminationProfile]]; the one-sided Bloom error means
    * `hit_grams` can only OVER-count (at ~`fpp` per clean gram), so
    * filtering `!contaminated` still removes every true leak —
    * over-removal is the fpp envelope, leakage is impossible.
    *
    * Building the filter makes two passes over the (distinct'd) eval
    * gram digests — a count to size it, then the `stat.bloomFilter`
    * aggregation. Both are aggregations of the eval side only; the
    * 100 TB corpus side is untouched until the final map. */
  def contaminationProfileBloom(corpus: DataFrame, idCol: String, textCol: Column,
      evalSet: DataFrame, evalTextCol: Column, nWords: Int = 13,
      fpp: Double = 1e-6): DataFrame = {
    require(nWords >= 1, "nWords must be >= 1")
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val bloom = evalGramBloom(evalSet, evalTextCol, nWords, fpp)
    val digests = transform(wordNGrams(textCol, nWords), g => xxhash64(g))
    val hits = text.expr2col(graft.functions.CountInBloom(
      text.col2expr(digests), bloom))
    corpus
      .withColumn("n_grams", size(digests).cast("long"))
      .withColumn("hit_grams", hits.cast("long"))
      .withColumn("contaminated", col("hit_grams") > 0L)
  }

  /** Bloom filter over an eval set's distinct word-n-gram xxhash64
    * digests — the shareable artifact behind
    * [[contaminationProfileBloom]] and
    * [[graft.streaming.StreamOps.decontaminateStreamBloom]]: build
    * once per eval set, reuse across batch jobs and streams. */
  def evalGramBloom(evalSet: DataFrame, evalTextCol: Column, nWords: Int,
      fpp: Double = 1e-6): org.apache.spark.util.sketch.BloomFilter = {
    val k = evalSet
      .select(explode(wordNGrams(evalTextCol, nWords)).as("__g"))
      .select(xxhash64(col("__g")).as("__k")).distinct()
    k.stat.bloomFilter("__k", math.max(k.count(), 1L), fpp)
  }

  /** Exact-substring span REMOVAL — the rewrite step of
    * "Deduplicating Training Data Makes Language Models Better"
    * (ExactSubstr): [[duplicateSpans]] FLAGS cross-document verbatim
    * runs; this operator REWRITES each document with every word
    * covered by a duplicated span cut out, keeping the unique
    * remainder. Word-boundary semantics match [[duplicateSpans]]
    * (lower/trim/whitespace-split), so the rewritten text is the
    * NORMALIZED word stream minus covered words — the standard
    * normalize-then-rewrite shape for training corpora (original
    * casing/spacing is not preserved). Docs shorter than `spanWords`
    * have no spans and survive as their normalized selves; a fully
    * duplicated doc becomes the empty string (row survives).
    *
    * Scale shape: two posexplodes of the native [[wordNGrams]] kernel
    * (its output is ordered, so the ARRAY INDEX is the span's word
    * position — no HOF slice chain, one static-call codegen site),
    * one (span → distinct-doc count) aggregation, a flag join, a
    * bounded `sequence` explode (spanWords rows per FLAGGED span
    * only), a positional anti-join, and one ordered reassembly
    * aggregation — every join keyed by (id, pos) or the span. */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 8, minDocs: Int = 2): DataFrame = {
    require(spanWords >= 1, "spanWords must be >= 1")
    require(minDocs >= 2, "minDocs < 2 would cut every span")
    val base = spreadWide(df.select(col(idCol), col(textCol).as("__t")))
    val words = base
      .select(col(idCol), posexplode(wordNGrams(col("__t"), 1)).as(Seq("__pos", "__w")))
    val spans = base
      .select(col(idCol), posexplode(wordNGrams(col("__t"), spanWords)).as(Seq("__p", "__s")))
    val dup = spans.groupBy(col("__s"))
      .agg(count_distinct(col(idCol)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__s"))
    val covered = spans.join(dup, Seq("__s"))
      .select(col(idCol), explode(sequence(col("__p"), col("__p") + (spanWords - 1)))
        .as("__pos"))
      .distinct()
    val rebuilt = words.join(covered, Seq(idCol, "__pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("__pos"), col("__w")))),
          s => s.getField("__w"))).as("__text"))
    df.drop(textCol).join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__text"), lit("")))
      .drop("__text")
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** ExactSubstr span removal that preserves the ORIGINAL text outside
    * cut spans — the byte-faithful sibling of [[removeDuplicateSpans]]
    * (which emits the normalized word stream minus covered words).
    * Span MATCHING is identical (lower/trim/whitespace-split word
    * grams, so duplicated runs match case-insensitively at any
    * offset); the REWRITE maps each maximal covered word run back to a
    * character range of the original string via the native
    * [[graft.functions.WordCharSpans]] offsets — word k of the
    * normalized stream is word k of the original by construction — and
    * cuts exactly `[start(first word), end(last word))`. Original
    * casing, inter-word whitespace outside cuts, and edge whitespace
    * all survive; whitespace INTERIOR to a cut run goes with it, and
    * the separators flanking a cut both remain (the ExactSubstr
    * contract: bytes outside the span are untouched). Docs with no
    * covered span pass through bit-identical (null text stays null); a
    * fully-covered doc keeps only its edge whitespace.
    *
    * Scale shape: [[removeDuplicateSpans]]'s explode/agg/flag-join
    * stages, plus one gaps-and-islands window keyed by the doc id
    * (covered runs), two (id, word-pos) equi-joins mapping run ends to
    * char offsets, and one per-doc fold over the (few) cut ranges —
    * nothing new shuffles more than ids and positions. */
  def removeDuplicateSpansRaw(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 8, minDocs: Int = 2): DataFrame = {
    require(spanWords >= 1, "spanWords must be >= 1")
    require(minDocs >= 2, "minDocs < 2 would cut every span")
    val base = spreadWide(df.select(col(idCol), col(textCol).as("__t")))
    val spans = base
      .select(col(idCol), posexplode(wordNGrams(col("__t"), spanWords)).as(Seq("__p", "__s")))
    val dup = spans.groupBy(col("__s"))
      .agg(count_distinct(col(idCol)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__s"))
    val covered = spans.join(dup, Seq("__s"))
      .select(col(idCol), explode(sequence(col("__p"), col("__p") + (spanWords - 1)))
        .as("__pos"))
      .distinct()
    // maximal covered runs: classic gaps-and-islands on word positions
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val runs = covered
      .withColumn("__grp", col("__pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("__pos")).as("__w0"), max(col("__pos")).as("__w1"))
    // original-text char offsets per word (packed (start << 32) | end)
    val offs = base
      .select(col(idCol), posexplode(text.expr2col(
        graft.functions.WordCharSpans(text.col2expr(col("__t"))))).as(Seq("__pos", "__se")))
    val cuts = runs
      .join(offs.select(col(idCol), col("__pos").as("__w0"),
        shiftright(col("__se"), 32).cast("int").as("__cs")), Seq(idCol, "__w0"))
      .join(offs.select(col(idCol), col("__pos").as("__w1"),
        col("__se").bitwiseAND(lit(0xFFFFFFFFL)).cast("int").as("__ce")), Seq(idCol, "__w1"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__cs"), col("__ce")))).as("__cuts"))
    // rebuild: fold over the sorted cut ranges keeping the text between
    // them — a per-doc HOF over a handful of cut structs, not a hot loop
    val rebuilt = base.join(cuts, Seq(idCol), "left")
      .withColumn("__new", when(col("__cuts").isNull, col("__t")).otherwise(
        aggregate(col("__cuts"),
          struct(lit(0).as("p"), lit("").as("acc")),
          (st, c) => struct(
            c.getField("__ce").as("p"),
            concat(st.getField("acc"),
              col("__t").substr(st.getField("p") + 1,
                c.getField("__cs") - st.getField("p"))).as("acc")),
          st => concat(st.getField("acc"),
            col("__t").substr(st.getField("p") + 1, length(col("__t")))))))
      .select(col(idCol), col("__new"))
    df.drop(textCol).join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, col("__new"))
      .drop("__new")
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** Collapse CONSECUTIVE duplicate lines within each document (the
    * in-doc half of the RefinedWeb line rules; [[dedupLines]] is the
    * cross-doc half): `a\na\nb\na` → `a\nb\na` — only adjacent repeats
    * collapse, later reappearances stay. Non-text columns pass through.
    *
    * Scale shape: one posexplode, one per-document window (shuffle
    * keyed by the doc id — perfectly spread), one reassembly
    * aggregation. */
  def collapseRepeatedLines(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__line")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    val rebuilt = lines
      .withColumn("__prev", lag(col("__line"), 1).over(w))
      .filter(col("__prev").isNull || col("__line") =!= col("__prev"))
      .groupBy(col(idCol))
      .agg(concat_ws(sep,
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line"))).as("__text"))
    df.drop(textCol).join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__text"), lit("")))
      .drop("__text")
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** Distinct character n-grams via the native
    * [[graft.functions.CharNGrams]] expression (sorted ascending;
    * single static-call codegen site). Prefer this in any hot path. */
  def charNGrams(c: Column, n: Int = 3): Column =
    text.expr2col(graft.functions.CharNGrams(text.col2expr(c), n))

  /** Ordered, multiplicity-preserving word n-grams of
    * `lower(trim(c))` split on whitespace — the native
    * [[graft.functions.WordNGrams]] kernel (one static-call codegen
    * site; the HOF formulation interprets 3 lambda dispatches and a
    * slice allocation per gram — PropertySpec cross-validates). */
  def wordNGrams(c: Column, n: Int = 2): Column =
    text.expr2col(graft.functions.WordNGrams(text.col2expr(c), n))

  /** Distinct character n-gram set of a string column — the
    * Column/HOF reference formulation (PropertySpec cross-validates
    * [[charNGrams]] against it). Higher-order functions are
    * interpreted (not codegen'd) in Spark, so gram sets should be
    * computed ONCE per document and joined — never inside a pair
    * predicate where they'd be re-evaluated O(n²) times. */
  def ngrams(c: Column, n: Int = 3): Column =
    array_distinct(
      filter(
        transform(sequence(lit(0), greatest(length(c) - n, lit(0))),
          i => c.substr(i + lit(1), lit(n))),
        g => length(g) === n))

  /** Jaccard similarity from two precomputed gram-SET columns
    * (distinct elements). Implemented with the codegen'd two-pointer
    * merge kernel [[graft.functions.SortedIntersectSize]] over
    * `sort_array`-ed inputs plus |A∪B| = |A|+|B|−|A∩B| — bit-identical
    * to `size(array_intersect)/size(array_union)` on distinct-element
    * arrays, without the two per-row hash-set builds. */
  def jaccardOfSets(ga: Column, gb: Column): Column = {
    val inter = text.expr2col(graft.functions.SortedIntersectSize(
      text.col2expr(sort_array(ga)), text.col2expr(sort_array(gb)))).cast("double")
    val uni = size(ga) + size(gb) - inter
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  /** Character n-gram Jaccard similarity between two strings (for
    * one-off candidate verification; for pair enumeration precompute
    * [[ngrams]] per side and use [[jaccardOfSets]]). */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column =
    jaccardOfSets(ngrams(a, n), ngrams(b, n))

  /** Exact all-pairs character-n-gram Jaccard join — every pair of
    * documents with J ≥ `t`, as `(id_a, id_b, jaccard)` with
    * `id_a < id_b` and J rounded to 6 places, WITHOUT the O(n²)
    * theta-join.
    *
    * Self-protecting and EAGER ([[gramJaccard]]): the distinct gram
    * sets are tokenized once and cached, a probe measures the exact
    * count join's Σ_gram df² joined rows, and the count join
    * ([[countedPairs]] — output identical to the brute-force cross
    * join) runs while that fits 8192 rows per document. Past the
    * budget — stop-grams on templated or heavy-tailed corpora make
    * Σdf² quadratic — candidates come from banded MinHash over the
    * gram sets with the same exact verify ([[bandedPairs]]; per-pair
    * recall ≥ 1 − 1e-6 instead of exactly 1). The probe decision is
    * logged; the result is materialized before the call returns, so a
    * caller composing further pruning pays full materialization.
    *
    * Reference analog: near-dup detection over the corpus (reference
    * `pipeline/processing/deduplication.py:19-31`) — re-expressed as
    * an exact relational algorithm instead of a cap. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: Column,
      t: Double, n: Int = 3): DataFrame =
    gramJaccard(gramSets(spreadWide(df), idCol, textCol, n), None, t)

  /** Exact BIPARTITE n-gram Jaccard join: every (left, right) pair
    * across two corpora with J ≥ `t` — [[jaccardPairs]]' core without
    * the `id_a < id_b` orientation. This is the decontamination
    * primitive: `left` = eval set, `right` = training corpus, a
    * returned pair is a leak. Guarded and eager like [[jaccardPairs]];
    * the probe measures Σ_gram dfL·dfR, which goes quadratic when BOTH
    * sides scale (20.6× growth at 10× data with a corpus-proportional
    * eval side), against 8192 rows per document of |L| + |R|. */
  def jaccardJoin(
      left: DataFrame, leftId: String, leftText: Column,
      right: DataFrame, rightId: String, rightText: Column,
      t: Double, n: Int = 3): DataFrame =
    gramJaccard(gramSets(spreadWide(left), leftId, leftText, n),
      Some(gramSets(spreadWide(right), rightId, rightText, n)), t)

  /** Decontamination: drop every `corpus` row whose text is ≥ `t`
    * n-gram-Jaccard-similar to ANY `reference` row — e.g. scrub an
    * eval/benchmark set out of a training corpus (or vice versa)
    * before fine-tuning. Removal ids come from the guarded
    * [[jaccardJoin]], so an oversized reference side routes to the
    * near-linear candidate path instead of detonating the Σ dfL·dfR
    * token join; removal is a left_anti join. */
  def decontaminate(
      corpus: DataFrame, idCol: String, textCol: Column,
      reference: DataFrame, refIdCol: String, refTextCol: Column,
      t: Double = 0.8, n: Int = 8): DataFrame = {
    val leaked = jaccardJoin(corpus, idCol, textCol,
        reference, refIdCol, refTextCol, t, n)
      .select(col("id_a").as(idCol)).distinct()
    corpus.join(leaked, Seq(idCol), "left_anti")
  }

  /** Marker-based exact n-gram Jaccard similarity for JOIN PREDICATES:
    * `a.join(b, Dedup.jaccardSim(a("text"), b("text"), n) >= lit(t))`.
    * Evaluates exactly like [[ngramJaccard]] anywhere, but as a single
    * recognizable expression node that
    * [[graft.plans.JaccardJoinRewrite]] pattern-matches in join
    * conditions and replaces with the count-based exact set-similarity
    * join — the naive cross product never executes when the rule is
    * installed ([[graft.GraftSession]] installs it; plain sessions get
    * it via `spark.sql.extensions=graft.GraftExtensions`). */
  def jaccardSim(a: Column, b: Column, n: Int = 3): Column =
    text.expr2col(graft.functions.NGramJaccardSim(
      text.col2expr(a), text.col2expr(b), n))

  /** DISTINCT text pairs `(__ta, __tb)` whose exact n-gram Jaccard
    * satisfies the threshold — the relational core behind
    * [[graft.plans.JaccardJoinRewrite]]. Same count-based algorithm as
    * [[jaccardPairs]] but keyed by the text VALUES themselves (the
    * rewrite has no row ids to pack) and compared UNROUNDED so the
    * decision agrees bit-for-bit with evaluating
    * [[graft.functions.NGramJaccardSim]] per pair. */
  private[graft] def textPairsByJaccard(
      left: DataFrame, leftText: Column,
      right: DataFrame, rightText: Column,
      t: Double, n: Int, strict: Boolean): DataFrame = {
    // Distinct texts per side, keyed by a 128-bit hash (two independent
    // xxhash64 seeds): the token join and the pair-count aggregation
    // must never carry or group on the TEXTS themselves — a ~300-char
    // document as a grouping key makes the hot aggregation hash and
    // compare ~600-byte keys per joined token row (measured 10× the
    // whole operator's cost). Texts are re-attached only to the few
    // threshold-passing pairs. 128 bits ⇒ a collision (which could
    // merge two pairs' counts) needs ~2^64 distinct texts.
    def keyed(src: DataFrame, textExpr: Column): DataFrame =
      spreadWide(src.select(textExpr.as("__t")).filter(col("__t").isNotNull))
        .distinct()
        .select(col("__t"), xxhash64(col("__t")).as("__h1"),
          xxhash64(col("__t"), lit(1)).as("__h2"))
    val lt = keyed(left, leftText)
    val rt = keyed(right, rightText)
    def toks(k: DataFrame, p: String): DataFrame = {
      val grams = text.expr2col(
        graft.functions.CharNGrams(text.col2expr(col("__t")), n, sentinel = true))
      k.select(col("__h1").as(s"__${p}1"), col("__h2").as(s"__${p}2"), grams.as("__g"))
        .select(col(s"__${p}1"), col(s"__${p}2"),
          size(col("__g")).as(s"__sz$p"), explode(col("__g")).as("__gram"))
    }
    val ta = toks(lt, "a")
    val tb = toks(rt, "b")
    // loose size bound (ε guards double rounding of t·max): prunes
    // inside the join stage; the exact unrounded J filter decides.
    val sizeOk = least(col("__sza"), col("__szb")).cast("double") >=
      greatest(col("__sza"), col("__szb")) * t - lit(1e-9)
    val j = col("__i").cast("double") / (col("__sza") + col("__szb") - col("__i"))
    val hits = ta.join(tb, Seq("__gram"))
      .filter(sizeOk)
      .groupBy(col("__a1"), col("__a2"), col("__b1"), col("__b2"))
      .agg(count(lit(1)).as("__i"),
        min(col("__sza")).as("__sza"), min(col("__szb")).as("__szb"))
      .filter(if (strict) j > t else j >= t)
      .select(col("__a1"), col("__a2"), col("__b1"), col("__b2"))
    hits
      .join(lt.select(col("__t").as("__ta"), col("__h1").as("__a1"), col("__h2").as("__a2")),
        Seq("__a1", "__a2"))
      .join(rt.select(col("__t").as("__tb"), col("__h1").as("__b1"), col("__h2").as("__b2")),
        Seq("__b1", "__b2"))
      .select(col("__ta"), col("__tb"))
  }

  /** `(__id, __sz, __gram)` exploded token stream of a `(__id, __g)`
    * gram-set frame. */
  private def gramTokens(sets: DataFrame): DataFrame =
    sets.select(col("__id"), size(col("__g")).as("__sz"), explode(col("__g")).as("__gram"))

  /** Repartition an under-split source up to the session's default
    * parallelism. Expensive narrow maps (LSH featurization, MinHash/
    * SimHash signatures, the n-gram explode) inherit the SCAN's
    * partitioning: a source with fewer splits than cores (one
    * unsplittable file, a single parquet row group, a gzip'd dump)
    * would run them near-sequentially — spread it first.
    * Well-partitioned at-scale inputs skip the extra shuffle
    * entirely.
    *
    * The probe uses `queryExecution.toRdd` (InternalRow RDD: plans the
    * physical tree but skips `df.rdd`'s extra deserializer stage and
    * its second plan copy). Any static probe reads the pre-AQE split
    * count — exactly what's wanted here, since the question is "how
    * parallel is the SCAN", not what AQE coalesces the first shuffle
    * to. */
  private[graft] def spreadWide(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < math.max(2, par / 2))
      df.repartition(par)
    else df
  }

  /** The exact route of [[gramPairs]]: COUNT-BASED pair enumeration
    * (the "tokenize–join–aggregate" exact set-similarity join). Each
    * doc's distinct gram set is exploded once, the two token streams
    * `(id_a|id_b, __sza|__szb, __gram)` equi-join on the gram, and the
    * rows per (id_a, id_b) are COUNTED — that count IS |A∩B| exactly,
    * so J = |∩| / (|A|+|B|−|∩|) needs no gram array past the explode.
    * Pairs sharing zero grams are never enumerated and have J = 0 < t
    * (the {""} sentinel makes empty-set pairs share a token, preserving
    * J(∅,∅)=1). `antiReflexive` (the self join) orients pairs
    * id_a < id_b; the bipartite join keeps every cross pair once.
    *
    * Scale shape: the token join carries (id, size, gram) rows only —
    * ~20 bytes, no array crosses an exchange; a size filter
    * (J ≥ t ⟹ t·max(|A|,|B|) ≤ min(|A|,|B|)) drops pairs inside the
    * join stage; the pair count aggregates map-side in the same stage,
    * so what shuffles is one row per surviving pair. Cost is Σ_gram
    * dfL·dfR joined rows — what [[probeRoute]] measures. */
  private def countedPairs(
      a: DataFrame, b: DataFrame, t: Double, antiReflexive: Boolean): DataFrame = {
    // ε guards float noise in t·size (0.3·10 = 3.0000000000000004),
    // and the relaxed t−1e-6 covers pairs whose true J sits just below
    // t but ROUNDS to ≥ t (the output filter is on the rounded value):
    // the bound may only ever round DOWN, never drop an emitted pair.
    val sizeOk = least(col("__sza"), col("__szb")).cast("double") >=
      greatest(col("__sza"), col("__szb")) * (t - 1e-6) - lit(1e-9)
    val joined = a.join(b, Seq("__gram"))
    val scoped = if (antiReflexive) joined.filter(col("id_a") < col("id_b")) else joined
    // SELF-join (antiReflexive): the hot aggregation groups on ONE
    // packed long (ids read as 32-bit; widen the pack if your ids
    // exceed 2^31) — a third the hash-agg state of grouping on
    // (id_a, id_b, sza, szb). The sizes ride along as min() buffers
    // (constant within a pair), so no per-doc side table exists
    // downstream. BIPARTITE: the two sides are UNRELATED id spaces —
    // a ≥ 2^32 reference id would silently overflow into the
    // corpus-id bits and drop the WRONG rows — so that path groups on
    // both ids (16-byte key; correctness over the pack's state win).
    val grouped =
      if (antiReflexive)
        scoped.filter(sizeOk)
          .groupBy((shiftleft(col("id_a"), 32) + col("id_b")).as("__pair"))
          .agg(count(lit(1)).as("__i"),
            min(col("__sza")).as("__sza"), min(col("__szb")).as("__szb"))
          .select(shiftright(col("__pair"), 32).as("id_a"),
            col("__pair").bitwiseAND(lit(0xFFFFFFFFL)).as("id_b"),
            col("__i"), col("__sza"), col("__szb"))
      else
        scoped.filter(sizeOk)
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("__i"),
            min(col("__sza")).as("__sza"), min(col("__szb")).as("__szb"))
    grouped
      .withColumn("jaccard", round(col("__i").cast("double") /
        (col("__sza") + col("__szb") - col("__i")), 6))
      .filter(col("jaccard") >= t)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** `(__id, __g)` with `__g` = lexically-sorted distinct n-gram set
    * (sentinel {""} for sub-n docs), via the native
    * [[graft.functions.CharNGrams]] expression (one static-call codegen
    * site — the equivalent HOF-chain expression tree generates multi-KB
    * Janino methods that overflow HotSpot's JIT limits). */
  private[graft] def gramSets(df: DataFrame, idCol: String, textCol: Column, n: Int): DataFrame = {
    val grams = text.expr2col(
      graft.functions.CharNGrams(text.col2expr(textCol), n, sentinel = true))
    df.select(col(idCol).as("__id"), grams.as("__g"))
  }

  /** Band width r for the banded route of [[gramPairs]]: the widest
    * divisor of `numPerm` whose per-pair MISS probability at J = t,
    * (1 − t^r)^(numPerm/r), stays ≤ 1e-6. Wider bands (AND-
    * amplification) suppress sub-threshold candidates exponentially;
    * the bound keeps threshold-passing pairs from being suppressed
    * with them. r = 1 (miss (1−t)^numPerm) is the always-valid floor. */
  private[graft] def recallBandRows(t: Double, numPerm: Int): Int =
    (1 to numPerm).filter(numPerm % _ == 0).filter { r =>
      (numPerm / r) * math.log1p(-math.pow(t, r)) <= math.log(1e-6)
    }.maxOption.getOrElse(1)

  /** `(__id, __bucket)` band rows of `(__id, __g)` gram sets for
    * [[bandedPairs]]: [[minhashBandKeys]] of each set's signature
    * with the band index hashed into the key, so the bucket join keys
    * on one long; a cross-band hash collision only adds a spurious
    * candidate that exact verification discards. */
  private def bandedGramSets(sets: DataFrame, numPerm: Int, bands: Int,
      r: Int): DataFrame = sets
    .select(col("__id"),
      minhashBandKeys(minhashSig(col("__g"), numPerm), bands, r).as("__b"))
    .select(col("__id"), xxhash64(col("__b.bucket"), col("__b.band")).as("__bucket"))

  /** The banded route of [[gramPairs]]: banded-MinHash CANDIDATES,
    * verified exactly. Same output columns and the same rounded J as
    * the count join (verification is the codegen'd [[jaccardOfSets]]
    * over the gram sets, not the signature-agreement estimate), but
    * candidates come from band buckets, so cost is Σ_bucket |bucket|²
    * over AND-amplified buckets — near-linear where Σ_gram dfL·dfR goes
    * quadratic. Per-pair recall at J ≥ t is 1 − (1 − t^r)^b with r from
    * [[recallBandRows]] (miss ≤ 1e-6; deterministic per corpus, since
    * signatures are seeded).
    *
    * Scale shape: one narrow signature map, one ids-only bucket join
    * (the self join joins the literally-same frame, so the exchange is
    * reused), one distinct on both ids — not a packed long: the
    * bipartite sides are unrelated id spaces, and a 16-byte distinct
    * key on a candidate list costs nothing measurable — and two hash
    * joins re-attaching gram sets to CANDIDATE pairs only. */
  private def bandedPairs(setsL: DataFrame, setsR: Option[DataFrame], t: Double): DataFrame = {
    val r = recallBandRows(t, BandPerms)
    val bands = BandPerms / r
    val bl = bandedGramSets(setsL, BandPerms, bands, r)
    val br = setsR.fold(bl)(bandedGramSets(_, BandPerms, bands, r))
    val joined = bl.as("l").join(br.as("r"), Seq("__bucket"))
    val cand = (if (setsR.isEmpty) joined.filter(col("l.__id") < col("r.__id")) else joined)
      .select(col("l.__id").cast("long").as("id_a"), col("r.__id").cast("long").as("id_b"))
      .distinct()
    val sa = setsL.select(col("__id").cast("long").as("id_a"), col("__g").as("__ga"))
    val sb = setsR.getOrElse(setsL)
      .select(col("__id").cast("long").as("id_b"), col("__g").as("__gb"))
    cand
      .join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .withColumn("jaccard", round(jaccardOfSets(col("__ga"), col("__gb")), 6))
      .filter(col("jaccard") >= t)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The candidate generator of the n-gram Jaccard core. */
  private[graft] sealed trait GramRoute
  private[graft] object GramRoute {
    /** [[countedPairs]]: exact, costs Σ_gram dfL·dfR joined rows. */
    case object Exact extends GramRoute
    /** [[bandedPairs]]: banded-MinHash candidates + exact verify. */
    case object Banded extends GramRoute
  }

  /** Joined-row budget of the exact route, per document of the input
    * (|L| for the self join, |L| + |R| for the bipartite one). */
  private val GramJoinRowsPerDoc = 8192L

  /** Signature length of the banded route. */
  private val BandPerms = 128

  /** The lazy pair plan of one route over `(__id, __g)` gram-set
    * frames ([[gramSets]]): `setsR = None` is the self join
    * (`id_a < id_b`), `Some` the bipartite one. [[gramJaccard]] picks
    * the route; specs force each one through here. */
  private[graft] def gramPairs(setsL: DataFrame, setsR: Option[DataFrame], t: Double,
      route: GramRoute): DataFrame = route match {
    case GramRoute.Exact =>
      // long ids on both routes, so the output schema never depends on
      // the probe's decision
      val ta = gramTokens(setsL)
      val tb = setsR.fold(ta)(gramTokens)
      countedPairs(
        ta.select(col("__id").cast("long").as("id_a"), col("__sz").as("__sza"), col("__gram")),
        tb.select(col("__id").cast("long").as("id_b"), col("__sz").as("__szb"), col("__gram")),
        t, antiReflexive = setsR.isEmpty)
    case GramRoute.Banded => bandedPairs(setsL, setsR, t)
  }

  /** The routing probe: Σ_gram dfL·dfR — the exact route's joined-row
    * count; Σdf² for the self join, whose two sides are one stream —
    * from one vocabulary-sized aggregation per side, against
    * [[GramJoinRowsPerDoc]] · `nDocs`. That quantity is what detonated
    * the reference's decontamination (ADR-003's 48-hour nested-loop
    * lesson), measured for the cost of a map-side count BEFORE the join
    * is committed to. Below r = 2 ([[recallBandRows]] at
    * [[BandPerms]]) banding has no AND-amplification — every pair
    * sharing one minhash value is a candidate, measured 7× slower than
    * the count join at t = 0.3 — so the probe is skipped and the route
    * stays exact. Either decision is logged at WARN, the level the
    * engine's session ([[graft.GraftSession.get]]) shows. */
  private[graft] def probeRoute(setsL: DataFrame, setsR: Option[DataFrame], t: Double,
      nDocs: Long): GramRoute =
    if (recallBandRows(t, BandPerms) < 2) {
      log.warn(s"n-gram Jaccard join: threshold $t too low for AND-amplified banding " +
        s"(r < 2 at numPerm=$BandPerms) — staying on the exact count join; on a " +
        "gram-saturated corpus raise t or pre-dedup with minhashDedup")
      GramRoute.Exact
    } else {
      def dfs(sets: DataFrame, c: String): DataFrame =
        gramTokens(sets).groupBy(col("__gram")).agg(count(lit(1)).as(c))
      val joinRows = dfs(setsL, "__dfl").join(dfs(setsR.getOrElse(setsL), "__dfr"), Seq("__gram"))
        .agg(coalesce(sum(col("__dfl") * col("__dfr")), lit(0L)))
        .head().getLong(0)
      val exact = joinRows <= GramJoinRowsPerDoc * nDocs
      val msg = (if (setsR.isEmpty) s"n-gram Jaccard self join probe Σdf²=$joinRows"
        else s"n-gram Jaccard bipartite join probe ΣdfL·dfR=$joinRows") +
        s" over $nDocs docs (budget $GramJoinRowsPerDoc/doc) → " +
        (if (exact) "exact count join" else "banded-MinHash candidates + exact verify")
      log.warn(msg)
      if (exact) GramRoute.Exact else GramRoute.Banded
    }

  /** The n-gram Jaccard core behind [[jaccardPairs]] and
    * [[jaccardJoin]]: the gram sets are persisted and materialized
    * once — the probe, both token sides of the exact route and the
    * banded route's signatures + verify all read the cache (an eager
    * count, because the route's plan fans out into map stages that AQE
    * submits concurrently against a lazy cache) — then
    * [[probeRoute]] picks the route, and its pairs are materialized
    * (`localCheckpoint`) while the cache is hot. */
  private def gramJaccard(setsL: DataFrame, setsR: Option[DataFrame], t: Double): DataFrame = {
    require(t > 0 && t <= 1, "threshold must be in (0, 1]")
    val cached = (setsL +: setsR.toSeq)
      .map(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      val nDocs = math.max(cached.map(_.count()).sum, 1L)
      gramPairs(setsL, setsR, t, probeRoute(setsL, setsR, t, nDocs)).localCheckpoint(true)
    } finally cached.foreach(_.unpersist(blocking = false))
  }

  /** N-gram-Jaccard near-duplicate removal: drops every document whose
    * gram set is ≥ `t` Jaccard-similar to an earlier (lower-id) one,
    * with candidate pairs from the guarded [[jaccardPairs]] and removal
    * via left_anti; never a driver collect. */
  def ngramDedup(df: DataFrame, idCol: String, textCol: Column,
      t: Double = 0.8, n: Int = 3): DataFrame = {
    val dupIds = jaccardPairs(df, idCol, textCol, t, n)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Embedding-cosine near-duplicate removal: rows whose embedding is
    * within `threshold` cosine of an earlier (lower-id) row are
    * dropped via left_anti.
    *
    * Candidate generation is the cell-pruned pair join
    * ([[Similarity.similarPairsApprox]]): seeded hyperplane-signature
    * cells + triangle-inequality pruning on angular distance, exact
    * cosine verify on survivors — identical output to the exact cross
    * join on any input, with cost ≈ Σ|cell|² on clustered (i.e.
    * duplicated) corpora. */
  def embeddingDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95): DataFrame = {
    val dupIds = Similarity.similarPairsApprox(df, idCol, vecCol, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** SemDeDup-style semantic deduplication ("SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", Abbas et
    * al. 2023): cluster the embedding space, compare pairs ONLY within
    * a cluster, and drop every row whose cosine to an earlier
    * (lower-id) cluster-mate is ≥ `1 − eps`. The deliberate contrast
    * with [[embeddingDedup]]: that operator is EXACT (cell pruning is
    * loss-free, cross-cell candidates survive via the triangle-
    * inequality allowlist), while SemDeDup's whole scale story is to
    * NEVER look across clusters — recall is bounded by cluster
    * locality, and in exchange cost is a strict Σ|cell|² with no
    * cross-cell join at all. Use it where the paper does: aggressive
    * semantic thinning of web-scale corpora at thresholds (eps ~
    * 0.03–0.1) where near-dup pairs are overwhelmingly co-located.
    *
    * Clusters are the engine's deterministic hyperplane-signature
    * buckets (seeded sign bits — one narrow map, no k-means fit, no
    * model broadcast; [[Similarity.cellPartition]] documents why they
    * have exactly the angular locality wanted here). `nCells <= 0`
    * auto-sizes to ~256 vectors/cell — UNCLAMPED above, unlike
    * [[Similarity.autoCells]]: that clamp bounds `similarPairsApprox`'s
    * driver-side centroid/radius/allowlist metadata, but SemDeDup
    * keeps NO per-cell metadata, so the cell count can track the
    * corpus indefinitely (the paper runs ~100k clusters on billions)
    * and Σ|cell|² stays ~256·n at any scale instead of going
    * quadratic past the clamp. Rows whose embedding is null, empty,
    * or NaN-poisoned can never be PROVEN duplicate, so they are
    * kept — same keep-on-doubt contract as every other dedup path.
    *
    * Scale shape: one narrow assignment map, ONE (cell)-keyed
    * self-join (the same frame instance aliased twice ⇒ the exchange
    * is written once and read twice), map-side distinct of dropped
    * ids, left_anti removal. Nothing but (cell, id, vec) rides the
    * shuffle, and the vec rides exactly once.
    *
    * `nCells <= 0` auto-sizing runs an EAGER sizing job at call time
    * (a count over the persisted comparable frame — the cache keeps
    * the scan+filter from executing a second time under the cell
    * join). At 100 TB pass `nCells` explicitly (you know the corpus
    * size); the operator then stays fully lazy. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      eps: Double = 0.05, nCells: Int = 0, seed: Long = 42L): DataFrame = {
    require(eps > 0 && eps < 1, "eps must be in (0, 1)")
    val t = 1.0 - eps
    val vd = col(vecCol).cast("array<double>")
    val clean = spreadWide(df)
      .filter(semanticComparable(vd))
      .select(col(idCol).as("__id"), vd.as("__v"))
    val (comparable, cells) =
      if (nCells > 0) (clean, nCells)
      else {
        // localCheckpoint (not cache-then-unpersist): the returned
        // plan is lazy, so there is no post-action point to release a
        // cache at — the checkpoint materializes the comparable frame
        // once and both the sizing count and the cell join read it.
        val cp = clean.localCheckpoint(true)
        (cp, semanticCells(cp.count()))
      }
    val assigned = comparable.withColumn("__cell", semanticCell(col("__v"), cells, seed))
    val dup = assigned.as("l").join(assigned.as("r"), Seq("__cell"))
      .filter(col("l.__id") < col("r.__id"))
      .filter(Similarity.cosine(col("l.__v"), col("r.__v")) >= t)
      .select(col("r.__id").as(idCol)).distinct()
    df.join(dup, Seq(idCol), "left_anti")
  }

  /** ~256 vectors/cell, unclamped above (30-bit signature ceiling =
    * ~10⁹ cells): [[semanticDedup]]'s auto-sizing, exposed for the
    * spec. */
  private[graft] def semanticCells(n: Long): Int =
    math.min(1L << 30, math.max(8L, n / 256L)).toInt

  /** Seeded hyperplane cell of a vector — THE SemDeDup bucketing,
    * shared by the batch operator, the incremental state table
    * ([[Incremental.writeCellVectors]]), and the streaming keyer
    * ([[graft.streaming.StreamOps.keyByCell]]); one definition so the
    * three paths can never disagree on which rows share a cell.
    * Null-safe to cell 0 for pass-through rows. */
  private[graft] def semanticCell(vec: Column, nCells: Int, seed: Long): Column =
    coalesce(Similarity
      .hyperplaneSignature(vec, Similarity.cellBits(nCells), seed).cast("int"), lit(0))

  /** Comparability predicate shared by the batch and incremental
    * paths: a row can be PROVEN duplicate only with a non-null,
    * non-empty, NaN-free embedding. The streaming state function
    * applies the same rule in-JVM (non-comparable rows pass through
    * un-flagged there — a stream must emit a decision per row). */
  private[graft] def semanticComparable(vec: Column): Column =
    vec.isNotNull && size(vec) > 0 && !exists(vec, x => isnan(x))

  /** The `(__cell, __rv)` eval-side frame behind
    * [[semanticDecontaminate]] and
    * [[graft.streaming.StreamOps.semanticDecontaminateStream]]:
    * comparable reference vectors, distinct'd, keyed by their seeded
    * hyperplane cell. Build ONCE per eval set (it is benchmark-sized
    * by the decontamination contract) and share across batch jobs and
    * streams, exactly like [[evalGramBloom]]. */
  def evalCellVectors(reference: DataFrame, refVecCol: String,
      nCells: Int, seed: Long = 42L): DataFrame = {
    val rv = col(refVecCol).cast("array<double>")
    reference
      .select(rv.as("__rv"))
      .filter(semanticComparable(col("__rv")))
      .distinct()
      .select(semanticCell(col("__rv"), nCells, seed).as("__cell"), col("__rv"))
  }

  /** Embedding-space decontamination: drop corpus rows whose embedding
    * lies within cosine `eps` of ANY reference (eval-set) embedding —
    * the PARAPHRASE-level member of the decontamination family. The
    * verbatim n-gram gates ([[contaminationProfile]], the Bloom and
    * streaming variants) catch exact token overlap; the fuzzy doc
    * gate ([[decontaminate]]) catches high-Jaccard rewordings; this
    * one catches leaks that share no surface n-grams at all
    * (translations, heavy paraphrases) — the shape reported for
    * benchmark leakage audits of web-scale pretraining sets.
    *
    * Comparisons happen only WITHIN shared seeded hyperplane cells —
    * [[semanticCell]], the SAME bucketing as the batch / streaming /
    * incremental SemDeDup paths, so one definition decides which rows
    * are ever compared everywhere. The recall contract is therefore
    * SemDeDup's, not an exact join's: a (corpus, eval) pair split
    * across cells is never compared. Run it BEHIND the verbatim/Bloom
    * gates (which are exact) as the paraphrase net, not instead of
    * them. Corpus rows whose embedding is null, empty, or
    * NaN-poisoned can never be PROVEN contaminated → kept; such
    * reference rows prove nothing → ignored.
    *
    * Scale shape: one narrow map per side, reference distinct'd and
    * BROADCAST (the decontamination contract: the eval side is
    * benchmark-sized — use the cell-bucketed incremental state table
    * pattern if yours is not), map-side cell equi-join + cosine
    * verify, distinct hit ids, left_anti removal. The corpus never
    * self-joins and never shuffles anything but the matched ids.
    *
    * `nCells <= 0` auto-sizes from the CORPUS like [[semanticDedup]]
    * (eager sizing count at call time — pass `nCells` explicitly at
    * scale); fewer cells trade cost (more pairs compared) for recall
    * (fewer split pairs), so decontamination callers may want coarser
    * cells than dedup callers. */
  def semanticDecontaminate(
      corpus: DataFrame, idCol: String, vecCol: String,
      reference: DataFrame, refVecCol: String,
      eps: Double = 0.05, nCells: Int = 0, seed: Long = 42L): DataFrame = {
    require(eps > 0 && eps < 1, "eps must be in (0, 1)")
    val t = 1.0 - eps
    val cv = col(vecCol).cast("array<double>")
    val clean = spreadWide(corpus)
      .filter(semanticComparable(cv))
      .select(col(idCol).as("__id"), cv.as("__cv"))
    val (comparable, cells) =
      if (nCells > 0) (clean, nCells)
      else {
        // same localCheckpoint discipline as semanticDedup: the
        // returned plan is lazy, so the checkpoint is the only point
        // where the sizing count and the cell join can share one scan
        val cp = clean.localCheckpoint(true)
        (cp, semanticCells(cp.count()))
      }
    val evalCells = evalCellVectors(reference, refVecCol, cells, seed)
    val hit = comparable
      .withColumn("__cell", semanticCell(col("__cv"), cells, seed))
      .join(broadcast(evalCells), Seq("__cell"))
      .filter(Similarity.cosine(col("__cv"), col("__rv")) >= t)
      .select(col("__id").as(idCol)).distinct()
    corpus.join(hit, Seq(idCol), "left_anti")
  }
}
