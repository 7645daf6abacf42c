package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (SURVEY §2.3 J4 + the training-data
  * extension surface): approximate-nearest-neighbor over an
  * `ArrayType(FloatType)` embedding column.
  *
  * The reference encodes both corpus sides with LaBSE and does a
  * Faiss `IndexFlatIP` k=1 search thresholded at 0.85
  * (/root/reference/pipeline/alignment/aligner.py:15-52). Spark-first
  * re-expression:
  *
  *  - [[cosine]] — pure Column math (`aggregate`/`zip_with`), stays in
  *    codegen, no UDF.
  *  - [[bruteForceTopK]] — exact baseline: broadcast the (small) query
  *    side, evaluate cosine per pair, window top-k. One shuffle (the
  *    window) on the query id; the join itself is broadcast so the
  *    100-TB corpus side streams.
  *  - [[lshTopK]] — scale path: random-hyperplane LSH bucketing cuts
  *    candidates from O(n·m) to the colliding buckets; same final
  *    rank-and-keep. Probing multiple hash tables recovers recall.
  */
object Similarity {

  /** Cosine similarity between two double-array columns. Built on the
    * codegen'd [[graft.functions.DotProduct]] kernel — bit-identical to
    * the interpreted `aggregate(zip_with(...))` formulation (same
    * left-to-right fold), minus the per-element lambda dispatch. */
  def cosine(a: Column, b: Column): Column = {
    val na = sqrt(dot(a, a))
    val nb = sqrt(dot(b, b))
    when(na === 0 || nb === 0, lit(0.0d)).otherwise(dot(a, b) / (na * nb))
  }

  /** Embedding-table QA report: per-label centroid geometry — vector
    * count, mean and min cosine of members to their label centroid.
    * Low mean = a diffuse/mislabeled cluster; a very low min flags
    * outlier vectors. NaN-poisoned vectors are quarantined up front
    * (Spark orders NaN above every double, so they would otherwise
    * win every max and poison the centroid sums).
    *
    * Scale shape: one posexplode + (label, dim) map-side-combined sum
    * — dims are bounded, so the aggregate state is tiny — one
    * per-label centroid assembly, one broadcast-sized join back, one
    * final per-label aggregation. Float caveat: centroid components
    * are double sums, so last-ulp totals depend on partition merge
    * order — by default this report is for QA thresholds, not
    * hash-exact oracles (rounded to 6 places, far above the ulp
    * noise). `hashStable = true` pins every merge-order-dependent
    * intermediate with an explicit round BEFORE it is consumed
    * (per-dim sums at 4 before the mean, the three dot products at 6
    * before the cosine, the cosine sum at 4 before the per-label
    * mean) — identical values on any engine that rounds the same
    * intermediates, so the report hash-oracles against DuckDB. */
  def centroidReport(df: DataFrame, labelCol: String, vecCol: String,
      hashStable: Boolean = false): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val clean = df
      .filter(v.isNotNull && size(v) > 0 && !exists(v, x => isnan(x)))
      .select(col(labelCol).as("label"), v.as("__v"))
    val byDim = clean
      .select(col("label"), posexplode(col("__v")).as(Seq("__i", "__x")))
      .groupBy(col("label"), col("__i"))
      .agg((if (hashStable) round(sum(col("__x")), 4) else sum(col("__x"))).as("__s"),
        count(lit(1)).as("__n"))
    val centroids = byDim.groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("__i"), (col("__s") / col("__n")).as("__c")))),
        s => s.getField("__c")).as("__centroid"))
    val memberCos =
      if (hashStable) {
        val dvc = round(dot(col("__v"), col("__centroid")), 6)
        val dvv = round(dot(col("__v"), col("__v")), 6)
        val dcc = round(dot(col("__centroid"), col("__centroid")), 6)
        when(dvv <= 0 || dcc <= 0, lit(0.0d))
          .otherwise(dvc / (sqrt(dvv) * sqrt(dcc)))
      } else cosine(col("__v"), col("__centroid"))
    val scored = clean.join(broadcast(centroids), Seq("label"))
      .select(col("label"), memberCos.as("__cos"))
    val meanCos =
      if (hashStable) round(round(sum(col("__cos")), 4) / count(lit(1)), 6)
      else round(avg(col("__cos")), 6)
    scored
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vectors"),
        meanCos.as("mean_cos_to_centroid"),
        round(min(col("__cos")), 6).as("min_cos_to_centroid"))
      .orderBy("label")
  }

  /** Inputs are cast to `array<double>` DEFENSIVELY: the native kernel
    * reads doubles unconditionally, and an `array<float>` column fed
    * directly (embedding parquet is float!) would be silently misread
    * as garbage. The cast is identity (and optimizer-eliminated) on
    * already-double inputs, so no oracle result changes. */
  def dot(a: Column, b: Column): Column =
    graft.functions.text.expr2col(graft.functions.DotProduct(
      graft.functions.text.col2expr(a.cast("array<double>")),
      graft.functions.text.col2expr(b.cast("array<double>"))))

  /** Marker-based exact cosine for JOIN PREDICATES:
    * `a.join(b, Similarity.cosineSim(a("v"), b("v")) >= lit(t))`.
    * Evaluates exactly like [[cosine]] anywhere, but as one
    * recognizable node that [[graft.plans.CosineJoinRewrite]] replaces
    * with the cell-pruned exact join in join conditions. Inputs cast
    * to `array<double>` (float-column safety). */
  def cosineSim(a: Column, b: Column): Column =
    graft.functions.text.expr2col(graft.functions.CosineSim(
      graft.functions.text.col2expr(a.cast("array<double>")),
      graft.functions.text.col2expr(b.cast("array<double>"))))

  /** Symmetric per-vector int8 quantization: `q_i = round(v_i/scale)`
    * with `scale = max|v_i| / 127` — the storage format that makes a
    * 100 TB embedding corpus 4× smaller (and int8-SIMD-scannable)
    * while IVF/LSH candidate generation stays on the quantized
    * vectors and only the final rerank touches full precision.
    * Returns `struct(q: array<tinyint>, scale: double)`; zero vectors
    * get scale 1 so the round-trip is exact. */
  def quantizeInt8(v: Column): Column = {
    val mx = array_max(transform(v, x => abs(x)))
    val scale = when(mx === 0, lit(1.0d)).otherwise(mx / 127.0)
    struct(
      transform(v, x => round(x / scale, 0).cast("tinyint")).as("q"),
      scale.as("scale"))
  }

  /** Inverse of [[quantizeInt8]]: `v_i ≈ q_i · scale`. Max absolute
    * reconstruction error is `scale / 2`. */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  /** Integer dot product of two int8-quantized vectors — the native
    * [[graft.functions.DotProductInt8]] byte kernel. */
  def dotInt8(a: Column, b: Column): Column =
    graft.functions.text.expr2col(graft.functions.DotProductInt8(
      graft.functions.text.col2expr(a), graft.functions.text.col2expr(b)))

  /** Approximate cosine of two int8-quantized vectors WITHOUT
    * dequantizing: the per-vector scales cancel, so
    * `cos ≈ dot8(a,b) / (√dot8(a,a) · √dot8(b,b))` — pure byte reads. */
  def cosineInt8(a: Column, b: Column): Column = {
    val na = sqrt(dotInt8(a, a).cast("double"))
    val nb = sqrt(dotInt8(b, b).cast("double"))
    when(na === 0 || nb === 0, lit(0.0d))
      .otherwise(dotInt8(a, b).cast("double") / (na * nb))
  }

  /** Exact top-k under the QUANTIZED metric: every row of `queries`
    * against `corpus`, both carrying an int8 `qCol`
    * (from [[quantizeInt8]]'s `q` field), ranked by [[cosineInt8]].
    * Same plan shape as [[bruteForceTopK]] — broadcast query side,
    * corpus streams, one window shuffle — but the scan reads byte
    * vectors (4× less bandwidth) and never touches fp32; rerank the
    * few survivors against full-precision vectors if exact-metric
    * order matters. */
  def quantizedTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, qCol: String, k: Int,
      selfExclude: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(qCol).as("__cq"))
    val q = queries.select(col(idCol).as("query_id"), col(qCol).as("__qq"))
    val joined = c.join(broadcast(q),
      if (selfExclude) col("corpus_id") =!= col("query_id") else lit(true))
    val scored = joined.select(col("query_id"), col("corpus_id"),
      cosineInt8(col("__cq"), col("__qq")).as("sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("sim"), asc("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), round(col("sim"), 6).as("sim"), col("rank"))
  }

  /** Exact top-k neighbors for every row of `queries` against `corpus`.
    * Query side is broadcast (ANN queries are batched and small
    * relative to the corpus); corpus streams through the broadcast
    * join with no shuffle until the per-query window. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      selfExclude: Boolean = true): DataFrame = {
    val c = Dedup.spreadWide(corpus).select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val joined = c.join(broadcast(q),
      if (selfExclude) col("corpus_id") =!= col("query_id") else lit(true))
    val scored = joined.withColumn("sim", cosine(col("__cv"), col("__qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("sim"), asc("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), round(col("sim"), 6).as("sim"), col("rank"))
  }

  /** Random-hyperplane signature: `bits` sign bits from seeded
    * pseudo-random hyperplanes. Deterministic in (seed, vector dim).
    * Hyperplane components are derived per element from
    * byteswap64(seed, bit, index) — no stored model object, so the
    * same signature is computable on any executor without a broadcast.
    * Native expression ([[graft.functions.HyperplaneSig]]): one plan
    * node and a tight codegen loop at ANY dimensionality, where the
    * Column formulation ([[hyperplaneSignatureColumns]]) materializes
    * dim × bits expression nodes — unusable past a few hundred dims. */
  def hyperplaneSignature(vec: Column, bits: Int, seed: Long = 42L): Column =
    graft.functions.text.expr2col(graft.functions.HyperplaneSig(
      graft.functions.text.col2expr(vec.cast("array<double>")), bits, seed))

  /** The pure-Column reference formulation of [[hyperplaneSignature]]
    * (bit-identical on non-null elements; PropertySpec cross-validates).
    * Kept non-private as the spec oracle — do not use in hot paths. */
  private[graft] def hyperplaneSignatureColumns(
      vec: Column, dim: Int, bits: Int, seed: Long = 42L): Column = {
    val sigBits = (0 until bits).map { b =>
      // pseudo-random ±1 hyperplane for bit b (component j = sign of hash)
      val contrib = (0 until dim).map { j =>
        val sign = if (scala.util.hashing.byteswap64(seed ^ (b.toLong << 32) ^ j) < 0) -1.0 else 1.0
        element_at(vec, j + 1) * lit(sign)
      }.reduce(_ + _)
      when(contrib > 0, lit(1L)).otherwise(lit(0L)) * lit(1L << b)
    }
    sigBits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** LSH-bucketed ANN: join corpus and queries on matching hyperplane
    * bucket in any of `tables` independent signatures, then exact
    * cosine + window top-k within candidates. Equi-join on the bucket
    * key ⇒ hash-partitioned shuffle join, no broadcast needed at any
    * scale. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      bits: Int = 12, tables: Int = 4): DataFrame = {
    val withSig = (df: DataFrame, side: String) => {
      val sigs = (0 until tables).map(t =>
        struct(lit(t).as("t"), hyperplaneSignature(col(vecCol), bits, seed = 42L + t).as("sig")))
      df.select(col(idCol).as(s"${side}_id"), col(vecCol).as(s"__${side}v"),
        explode(array(sigs: _*)).as("__bucket"))
    }
    val c = withSig(corpus, "corpus")
    val q = withSig(queries, "query")
    // score at collision time, BEFORE any exchange: a pair colliding in
    // k tables is scored k times (cheap, map-side) but what shuffles —
    // the collision-dedup aggregation and the top-k window — carries
    // only (ids, sim double), never the embedding arrays. The previous
    // dropDuplicates-then-score order dragged both vectors through the
    // pair-dedup exchange, which at 768-dim is 50× the row width.
    val scored = c.join(q, c("__bucket") === q("__bucket") && col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        cosine(col("__corpusv"), col("__queryv")).as("sim"))
      .groupBy(col("query_id"), col("corpus_id")).agg(first(col("sim")).as("sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("sim"), asc("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), round(col("sim"), 6).as("sim"), col("rank"))
  }

  /** Margin-based bitext mining (the Artetxe-Schwenk ratio margin
    * behind LASER/CCMatrix): for each source vector, score its
    * target-side nearest neighbors by `cos(x,y)` divided by the mean
    * of the two vectors' own top-k neighborhoods — a pair is a
    * translation when it is closer than either side's AVERAGE
    * neighbor, which cancels the hubness that raw cosine thresholds
    * trip over. Keeps each source's best-margin target with
    * `margin ≥ minMargin` (1.0 = "closer than average"; published
    * pipelines mine at ~1.06). Ids must be distinct across the two
    * sides (equal ids are treated as the same item and excluded).
    *
    * `ann = false` (oracle baseline): exact kNN both directions via
    * [[bruteForceTopK]] — broadcast the query side, corpus streams.
    * `ann = true` (100 TB path): both kNN sweeps run through
    * [[lshTopK]]'s hyperplane-bucket equi-join — no broadcast, no
    * cross product anywhere; same downstream margin algebra. Margin
    * math runs on the (ids, sim) frame — vectors never cross the
    * post-kNN exchanges. NaN-poisoned vectors are quarantined at the
    * candidate stage (cosine NaN ⇒ not a mineable pair). */
  def marginMine(src: DataFrame, tgt: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, minMargin: Double = 1.0, ann: Boolean = false,
      bits: Int = 12, tables: Int = 4): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val topk: (DataFrame, DataFrame) => DataFrame =
      if (ann) (c, q) => lshTopK(c, q, idCol, vecCol, k, bits, tables)
      else (c, q) => bruteForceTopK(c, q, idCol, vecCol, k)
    val fwd = topk(tgt, src).filter(!isnan(col("sim"))) // x → its tgt kNN
    val bwd = topk(src, tgt).filter(!isnan(col("sim"))) // y → its src kNN
    val degX = fwd.groupBy(col("query_id").as("__sx")).agg(avg(col("sim")).as("__dx"))
    val degY = bwd.groupBy(col("query_id").as("__sy")).agg(avg(col("sim")).as("__dy"))
    val scored = fwd
      .join(degX, col("query_id") === col("__sx"))
      .join(degY, col("corpus_id") === col("__sy"))
      .withColumn("margin", col("sim") / ((col("__dx") + col("__dy")) / 2))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("margin"), asc("corpus_id"))
    scored.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1 && col("margin") >= minMargin)
      .select(col("query_id").as("src_id"), col("corpus_id").as("tgt_id"),
        col("sim"), round(col("margin"), 6).as("margin"))
  }

  /** Threshold similarity self-join: all pairs (a<b) with cosine ≥ t.
    * Exact (cross join): the reference that [[similarPairsApprox]], the
    * scale path with identical output, is checked against. */
  def similarPairs(df: DataFrame, idCol: String, vecCol: String, t: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("__va"), col("__vb")))
      .filter(col("sim") >= t)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Similarity")

  /** Seed of every cosine-core cell signature: both join sides must agree. */
  private val CellSeed = 42L

  /** The cell of a non-null vector. Non-nullable on purpose: a
    * nullable join key makes Catalyst infer an `isnotnull(cell)` filter
    * below the projection that computes the cell, which would evaluate
    * the signature twice per vector. */
  private def cellOf(v: Column, nCells: Int): Column =
    coalesce(hyperplaneSignature(v, cellBits(nCells), CellSeed).cast("int"), lit(-1))

  /** The pruned cell-pair list behind [[cosineCore]] (split out so the
    * pruning is spec-testable): the SYMMETRIC cell pairs (ca, cb) over
    * `vecs`' `__v` that can contain a pair with cosine ≥ t. Logs the
    * cell count and the surviving share of cells².
    *
    * Cells are HYPERPLANE-SIGNATURE buckets (⌈log2 nCells⌉ seeded sign
    * bits, native codegen expression), not fitted k-means cells: the
    * quantizer only affects how much the triangle-inequality step can
    * prune (cost), never which pairs the exact verify emits
    * (correctness) — and a fit (~10 driver-blocking ml jobs) costs
    * more than the pruning it buys. Signature buckets have exactly
    * the angular locality the geodesic bound wants, assign in one
    * narrow map, and are deterministic in (seed, dim) with no model
    * object to broadcast. Centroids/radii come from the members
    * themselves (per-bucket mean, max member angle) in two
    * aggregation passes, so the bound stays tight on actual bucket
    * contents. */
  private[graft] def cellPartition(vecs: DataFrame, t: Double, nCells: Int): Seq[(Int, Int)] = {
    val base = vecs.select(col("__v"), cellOf(col("__v"), nCells).as("__cell"))

    // per-cell mean vector: one partial-aggregated pass over
    // (cell, dim) — the collect is k×dim doubles of metadata.
    val sums = base
      .select(col("__cell"), posexplode(col("__v")).as(Seq("__pos", "__x")))
      .groupBy(col("__cell"), col("__pos"))
      .agg(sum(col("__x")).as("__s"), count(lit(1)).as("__n"))
      .collect()
    if (sums.isEmpty) return Seq.empty
    val dims = sums.map(_.getInt(1)).max + 1
    val centroids: Map[Int, Array[Double]] = sums.groupBy(_.getInt(0)).map {
      case (cell, rows) =>
        val c = new Array[Double](dims)
        rows.foreach(r => c(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
        cell -> c
    }
    val cells = centroids.keys.toSeq.sorted
    val centroidDf = vecs.sparkSession.createDataFrame(
      cells.map(c => (c, centroids(c).toSeq)))
      .toDF("__cell", "__centroid")

    // per-cell angular radius: max geodesic distance from a member to
    // its centroid.
    val theta = acos(least(greatest(cosine(col("__v"), col("__centroid")), lit(-1.0)), lit(1.0)))
    val radii = base
      .join(broadcast(centroidDf), Seq("__cell"))
      .groupBy(col("__cell")).agg(max(theta).as("r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

    def thetaBetween(a: Array[Double], b: Array[Double]): Double = {
      val d = a.lazyZip(b).map(_ * _).sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) math.Pi / 2
      else math.acos(math.max(-1.0, math.min(1.0, d / (na * nb))))
    }
    val maxTheta = math.acos(math.max(-1.0, math.min(1.0, t)))
    val allowed = for {
      ca <- cells
      cb <- cells
      if thetaBetween(centroids(ca), centroids(cb)) -
        radii.getOrElse(ca, 0.0) - radii.getOrElse(cb, 0.0) <= maxTheta
    } yield (ca, cb)
    val sigCells = 1 << cellBits(nCells)
    log.warn(s"cosine pair join: $sigCells cells, " +
      s"${allowed.size} of ${sigCells * sigCells} cell pairs allowed")
    allowed
  }

  private[graft] def cellBits(nCells: Int): Int =
    math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1, nCells - 1).toLong).toInt)

  /** Corpus-sized cell count for [[cosineCore]]: ~256 vectors
    * per cell (verify cost on balanced cells ≈ n²/k, so a FIXED k
    * grows quadratically with the corpus — the round-4 scale rehearsal
    * measured exactly that shape at 10× data). Clamped to [8, 1024]:
    * the upper bound keeps the driver-side metadata (k×dim centroid
    * sums, k² pruning angles) and the broadcast allowlist (≤ k² int
    * pairs) at single-digit-MB envelopes on any corpus. Cell count
    * affects cost only — the exact verify makes output independent of
    * it. */
  private[graft] def autoCells(n: Long): Int =
    math.min(1024L, math.max(8L, n / 256L)).toInt

  /** The exact cosine pair join behind [[similarPairsApprox]] (`r =
    * None`: self join, pairs `__ka < __kb`) and [[vecPairsByCosine]]
    * (`Some(r)`: bipartite, identical values pair too), over `(__k,
    * __v)` frames — a frame without `__k` is keyed by its vector, which
    * then rides the verify exchange once, not twice — cut into `nCells`
    * cells. Output `(__ka, __kb, __sim)`, raw `__sim` kept when `> t`
    * (`strict`) or `>= t`.
    *
    * A cell pair (A, B) can hold a pair with cosine ≥ t only if
    * θ(centroidA, centroidB) − radiusA − radiusB ≤ arccos(t) (triangle
    * inequality on geodesic distance, a metric on the sphere —
    * [[cellPartition]]); only surviving cell pairs meet, in one
    * cell-keyed exchange, and exact cosine verifies every candidate, so
    * the output equals the cross join on ANY input. On clustered
    * corpora (the near-dup case) cost approaches Σ|cell|²; on uniform
    * random data it degrades to the exact join, the floor there anyway.
    *
    * Null vectors never pair (nor in the cross join), so they are
    * dropped before the quarantine counts. NaN quarantine, which the
    * exact-output guarantee needs: a NaN element makes a pair's
    * similarity NaN, which Spark AND DuckDB order ABOVE every threshold
    * (the cross join KEEPS such pairs), and inside the geometry it would
    * poison its cell's centroid (NaN angle → the cell's real pairs
    * silently pruned). So each side `observe`s a
    * `graft.nan_quarantine.*` (`n_vecs`, `n_dirty`) pair that
    * [[NanQuarantine]] warns on (no extra job), the geometry sees only
    * clean vectors, and every pair with a dirty vector is enumerated
    * directly: |dirty| × n, empty on sane corpora. */
  private def cosineCore(l: DataFrame, r: Option[DataFrame], t: Double, strict: Boolean,
      nCells: Int): DataFrame = {
    val self = r.isEmpty
    val dirtyFlag = exists(col("__v"), x => isnan(x))
    def quarantined(side: DataFrame, name: String): DataFrame =
      side.filter(col("__v").isNotNull)
        .observe(NanQuarantine.observationName(name),
          count(lit(1)).as("n_vecs"),
          sum(when(dirtyFlag, lit(1L)).otherwise(lit(0L))).as("n_dirty"))
    val lq = quarantined(l, if (self) "cosinePairs" else "cosinePairs.left")
    val rq = r.fold(lq)(quarantined(_, "cosinePairs.right"))
    val lClean = lq.filter(!dirtyFlag)
    val rClean = if (self) lClean else rq.filter(!dirtyFlag)
    val allowed = cellPartition(
      if (self) lClean.select(col("__v"))
      else lClean.select(col("__v")).union(rClean.select(col("__v"))),
      t, nCells)

    val keyed = l.columns.contains("__k")
    def key(s: String): Column = col(if (keyed) s"__k$s" else s"__v$s")
    def side(d: DataFrame, s: String, extra: Column*): DataFrame =
      d.select((if (keyed) Seq(col("__k").as(s"__k$s")) else Nil) ++
        (col("__v").as(s"__v$s") +: extra): _*)
    def tagged(d: DataFrame, s: String): DataFrame = side(d, s,
      sqrt(dot(col("__v"), col("__v"))).as(s"__n$s"), cellOf(col("__v"), nCells).as(s"__c$s"))
    val allowedDf = l.sparkSession.createDataFrame(allowed).toDF("__ca", "__cb")
    val pruned = tagged(lClean, "a").join(broadcast(allowedDf), Seq("__ca"))
      .join(tagged(rClean, "b"), Seq("__cb"))
      .withColumn("__sim", when(col("__na") === 0 || col("__nb") === 0, lit(0.0))
        .otherwise(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))))
    // NaN similarities pass any threshold, as in the cross join; the
    // dirty side broadcasts, so AQE drops a branch whose side is empty
    val dirty = broadcast(side(lq.filter(dirtyFlag), "a")).crossJoin(side(rq, "b"))
      .union(side(lClean, "a").crossJoin(broadcast(side(rq.filter(dirtyFlag), "b"))))
      .withColumn("__sim", cosine(col("__va"), col("__vb")))
    // key order first: it halves the self join's dot products
    val keep = (if (self) key("a") < key("b") else lit(true)) &&
      (if (strict) col("__sim") > t else col("__sim") >= t)
    def verified(pairs: DataFrame): DataFrame =
      pairs.filter(keep).select(key("a").as("__ka"), key("b").as("__kb"), col("__sim"))
    verified(pruned).union(verified(dirty))
  }

  /** DISTINCT (left-vector, right-vector) ORDERED pairs whose exact
    * cosine satisfies the threshold — the relational core behind
    * [[graft.plans.CosineJoinRewrite]]: [[cosineCore]]'s bipartite join
    * over each side's distinct vectors, keyed by the vector itself,
    * with cells sized from both sides' row counts (an upper bound on
    * their distinct vectors). The distinct's exchange has an explicit
    * count from the session's parallelism, which AQE never coalesces:
    * coalesced, the few-MB distinct frames land in ONE task, and so
    * does every stage after. */
  private[graft] def vecPairsByCosine(
      left: DataFrame, leftVec: Column,
      right: DataFrame, rightVec: Column,
      t: Double, strict: Boolean): DataFrame = {
    val spark = left.sparkSession
    val parts = math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    def vecs(src: DataFrame, v: Column): DataFrame =
      src.select(v.cast("array<double>").as("__v")).repartition(parts, col("__v")).distinct()
    cosineCore(vecs(left, leftVec), Some(vecs(right, rightVec)), t, strict,
        autoCells(left.count() + right.count()))
      .select(col("__ka").as("__va"), col("__kb").as("__vb"))
  }

  /** Scale path for [[similarPairs]] with an EXACT-OUTPUT guarantee
    * (the one an oracle-gated dedup default needs, and hyperplane LSH
    * cannot give): [[cosineCore]]'s self join, with cells sized from
    * one count of the corpus. The count and two metadata aggregations
    * run at call time; the result is one narrow cell-tagging map and
    * one cell-keyed equi-join over the broadcast pruned pair list.
    * Reference analog: the Faiss IndexFlatIP alignment search (the
    * reference's `pipeline/alignment/aligner.py:15-52`), whose IVF
    * variants have the same quantize-then-verify shape, here made
    * loss-free. */
  def similarPairsApprox(df: DataFrame, idCol: String, vecCol: String, t: Double): DataFrame =
    similarPairsInCells(df, idCol, vecCol, t, nCells = 0)

  /** [[similarPairsApprox]] over a forced cell count — the entry specs
    * reach the cell geometry through; `0` sizes it from the corpus. */
  private[graft] def similarPairsInCells(
      df: DataFrame, idCol: String, vecCol: String, t: Double, nCells: Int): DataFrame =
    cosineCore(Dedup.spreadWide(df)
        .select(col(idCol).as("__k"), col(vecCol).cast("array<double>").as("__v")),
        None, t, strict = false, if (nCells > 0) nCells else autoCells(df.count()))
      .select(col("__ka").as("id_a"), col("__kb").as("id_b"), round(col("__sim"), 6).as("sim"))

  /** IVF (inverted-file) ANN: k-means coarse quantizer over the corpus,
    * queries probe their `nProbe` nearest centroids, exact cosine
    * rerank within the probed cells.
    *
    * Scale shape: centroids (k × dim floats) broadcast to assign cells
    * in a narrow map; the candidate join is a hash equi-join on
    * `cell` — corpus cells are disjoint so each query scans ~nProbe/k
    * of the corpus. Seeded k-means ⇒ deterministic cells.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}

    val train = corpus.select(col(idCol), array_to_vector(col(vecCol)).as("__features"))
    val km = new KMeans().setK(nCells).setSeed(seed)
      .setFeaturesCol("__features").setPredictionCol("__cell")
    val model = km.fit(train)

    val corpusCells = model.transform(train)
      .select(col(idCol).as("corpus_id"), col("__cell").as("cell"),
        vector_to_array(col("__features")).as("__cv"))

    // rank each query's centroids, keep the nProbe nearest (by cosine)
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray)
    }.toSeq
    val centroidDf = corpus.sparkSession.createDataFrame(centroids)
      .toDF("cell", "__centroid")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("__qv"))
    val probed = q.join(broadcast(centroidDf), lit(true))
      .withColumn("__csim", cosine(col("__qv"), col("__centroid")))
      .withColumn("__crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("__csim"), asc("cell"))))
      .filter(col("__crank") <= nProbe)
      .select(col("query_id"), col("__qv"), col("cell"))

    val scored = corpusCells.join(probed, Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("__cv").cast("array<double>"), col("__qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("sim"), asc("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), round(col("sim"), 6).as("sim"), col("rank"))
  }

  /** Hard-negative mining for contrastive retrieval training — the
    * DPR/ANCE-shaped selection step: for every anchor vector, the `k`
    * most-similar OTHER vectors whose cosine lies in the band
    * `[lo, hi)`. Above `hi` is a probable positive/near-duplicate
    * (using it as a negative poisons the loss — the false-negative
    * problem); below `lo` is an easy negative the model learns nothing
    * from. Output: `(anchor_id, neg_id, sim, rank)`, `sim` rounded to
    * 6, rank 1..k per anchor by (rounded sim desc, neg_id) — every
    * pair serves BOTH directions, so each side of a qualifying pair
    * sees the other as a candidate negative.
    *
    * Pair enumeration is [[similarPairsApprox]]: cell-pruned
    * candidates, output identical to the [[similarPairs]] cross join by
    * that operator's exact-output guarantee. The band filter applies to
    * the ROUNDED sim on both engines, so the mined set can never
    * disagree on a ulp at the `hi` boundary; enumeration admits raw
    * sim ≥ `lo` exactly as `similarPairs` defines it. Per-anchor ranking is one
    * window keyed by anchor id — bounded by the anchor's in-band
    * neighborhood, which the band keeps narrow by construction (a
    * dense near-duplicate clique sits ABOVE `hi`); dedup first
    * ([[graft.operators.Dedup.semanticDedup]]) if your corpus hasn't
    * been. */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
      lo: Double, hi: Double, k: Int): DataFrame = {
    require(lo < hi && hi <= 1.0, "need lo < hi <= 1")
    require(k > 0, "k must be positive")
    val pairs = similarPairsApprox(df, idCol, vecCol, lo).filter(col("sim") < hi)
    val sym = pairs.select(col("id_a").as("anchor_id"), col("id_b").as("neg_id"), col("sim"))
      .unionAll(pairs.select(col("id_b").as("anchor_id"), col("id_a").as("neg_id"), col("sim")))
    val w = Window.partitionBy(col("anchor_id")).orderBy(desc("sim"), asc("neg_id"))
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** ANN hard-negative mining — the 100 TB path, and how production
    * retrieval training actually mines (ANCE/RocketQA retrieve
    * negatives from an ANN index, not an exact all-pairs band):
    * candidates come from [[lshTopK]]'s hyperplane-bucket equi-join
    * (top `probeK` per anchor), then the `[lo, hi)` band filter and
    * the final per-anchor `k` re-rank. [[hardNegatives]] is the
    * exact-output oracle companion; its band enumeration measured
    * 61× wall at 30× data (SCALING.md) because a low `lo` admits
    * nearly every cell pair — this variant's bucket join is linear in
    * collisions and never enumerates the band.
    *
    * The recall contract is the LSH one, per-PAIR probabilistic, NOT
    * exact: a band pair colliding in no table is never seen, and
    * collision probability decays with the pair's angle — size `bits`
    * DOWN (coarser buckets) when the band sits at mid similarities,
    * up when it hugs the near-duplicate zone. Two crowding caveats:
    * `probeK` must exceed the anchor's expected ABOVE-band neighbor
    * count plus `k` (near-duplicates outrank the band and are
    * filtered after the top-probeK cut); and the band filter applies
    * to the ROUNDED sim that [[lshTopK]] emits. Seeded — the mined
    * set is deterministic on any cluster shape.
    *
    * FIXED `bits` at a growing corpus is the fixed-cell-count
    * mistake: collisions ≈ n²·tables/2^bits, quadratic for any pinned
    * bits. Measured at 30× data (60k vectors, SCALING.md): bits=8 →
    * 56 s; bits=10 → 17.7 s at −0.4% mined pairs; bits=12 → 6.7 s at
    * −8.5%. `bits <= 0` auto-sizes to keep ~64 vectors per bucket
    * (max(4, ⌈log2(n/64)⌉) — bits=10 at that corpus), one eager
    * sizing count like [[graft.operators.Dedup.semanticDedup]] —
    * pass `bits` explicitly at scale, and add `tables` to buy back
    * the recall that finer buckets cost. */
  def hardNegativesAnn(df: DataFrame, idCol: String, vecCol: String,
      lo: Double, hi: Double, k: Int, probeK: Int = 0,
      bits: Int = 0, tables: Int = 4): DataFrame = {
    require(lo < hi && hi <= 1.0, "need lo < hi <= 1")
    require(k > 0, "k must be positive")
    val pk = if (probeK > 0) probeK else 4 * k
    require(pk >= k, "probeK must be >= k")
    val b =
      if (bits > 0) bits
      else math.max(4, math.ceil(
        math.log(math.max(df.count(), 1L) / 64.0) / math.log(2)).toInt)
    val w = Window.partitionBy(col("anchor_id")).orderBy(desc("sim"), asc("neg_id"))
    lshTopK(df, df, idCol, vecCol, pk, b, tables)
      .select(col("query_id").as("anchor_id"), col("corpus_id").as("neg_id"),
        col("sim"))
      .filter(col("sim") >= lo && col("sim") < hi)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
