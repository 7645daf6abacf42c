package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic seeded dataset splitting (SURVEY §2.7, O4/O5).
  *
  * The reference shuffles indices with `random.seed(42)` and slices at
  * 90/95% (/root/reference/src/pipeline/unify.py:277-316). Python's
  * shuffle is irreproducible on the JVM, so the engine defines its own
  * determinism: each row's split is a pure function of its key —
  * `xxhash64(key, seed)` bucketed by the cumulative ratio thresholds.
  *
  * Properties (all verified in SplitSpec):
  *  - deterministic: same key+seed ⇒ same split, on any cluster size,
  *    any partitioning — no global sort, no shuffle at all (the
  *    reference's shuffle-slice would require a total order at scale);
  *  - disjoint and exhaustive: thresholds partition the hash range;
  *  - ratio-accurate in expectation (±tolerance at small n, tight at
  *    100 TB row counts).
  */
object Split {

  /** The reference's 90/5/5 (unify.py:277-316, config.py train/val/
    * test_ratio defaults) — override per-run via [[graft.GraftConfig]]. */
  val defaultRatios: Seq[(String, Double)] =
    Seq("train" -> 0.9, "validation" -> 0.05, "test" -> 0.05)

  /** The seeded uniform behind [[assign]]: xxhash64(key, seed) →
    * uniform in [0, 1). Exposed so seeded-split queries can EXPORT the
    * value for the DuckDB oracle (which has no xxhash64) and the
    * oracle replays only the SQL-expressible threshold labelling. */
  def uniform(key: Column, seed: Long = 42L): Column =
    (xxhash64(key, lit(seed)).cast("double") - lit(Long.MinValue.toDouble)) /
      lit(Long.MaxValue.toDouble * 2.0)

  /** Assign a split label from the hash of `key`. Ratios must sum to 1. */
  def assign(
      key: Column,
      seed: Long = 42L,
      ratios: Seq[(String, Double)] = defaultRatios): Column = {
    require(math.abs(ratios.map(_._2).sum - 1.0) < 1e-9, "ratios must sum to 1")
    val u = uniform(key, seed)
    val cum = ratios.scanLeft(0.0)(_ + _._2).tail
    ratios.zip(cum).init.foldRight(lit(ratios.last._1): Column) {
      case (((name, _), hi), elseCol) => when(u < hi, lit(name)).otherwise(elseCol)
    }
  }

  def split(df: DataFrame, keyCols: Seq[String], seed: Long = 42L): DataFrame =
    df.withColumn("split", assign(Dedup.compositeKey(keyCols), seed))

  /** Stratified EXACT-COUNT split: within every stratum (e.g.
    * language), rows are ranked by a deterministic pseudo-random order
    * — `md5(key || seed)`, identical in any engine, ties broken by the
    * key — and the first ⌈r₁·n⌉ go to split 1, the next up to ⌈r₂·n⌉
    * to split 2, … So each stratum's proportions are exact to ±1 row
    * (the hash-threshold [[assign]] is only ratio-accurate in
    * expectation, which on a 700-row language can drift percents),
    * and per-language balance survives the split — the training-data
    * requirement the reference's global shuffle-slice never had.
    *
    * Scale note: the rank window partitions by stratum, so ONE
    * stratum's rows land in one task. Exact per-stratum counting
    * fundamentally needs a per-stratum total order; use this when
    * strata are bounded (languages, sources, categories — the real
    * use), and the shuffle-free [[assign]] when a stratum itself is
    * 100 TB. */
  def stratified(
      df: DataFrame,
      strata: Column,
      key: Column,
      seed: Long = 42L,
      ratios: Seq[(String, Double)] = Seq("train" -> 0.9, "validation" -> 0.05, "test" -> 0.05)): DataFrame = {
    require(math.abs(ratios.map(_._2).sum - 1.0) < 1e-9, "ratios must sum to 1")
    val ord = md5(concat(key.cast("string"), lit("|"), lit(seed.toString)))
    val rn = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(strata).orderBy(ord, key))
    val n = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(strata))
    val cum = ratios.scanLeft(0.0)(_ + _._2).tail
    val label = ratios.zip(cum).init.foldRight(lit(ratios.last._1): Column) {
      case (((name, _), hi), elseCol) =>
        when(col("__rn") <= ceil(lit(hi) * col("__n")), lit(name)).otherwise(elseCol)
    }
    df.withColumn("__rn", rn).withColumn("__n", n)
      .withColumn("split", label)
      .drop("__rn", "__n")
  }

  /** Budget-capped stratified sample — the DATA-MIXTURE primitive: cap
    * every stratum (language, source, domain) at a cost budget (tokens,
    * chars, bytes), taking rows in a deterministic pseudo-random order
    * until the budget fills. This is how a training mix is assembled
    * ("at most B tokens per language"): proportions come from budgets,
    * not from whatever the crawl happened to contain.
    *
    * A row is kept iff the running cost sum over the stratum's
    * md5-ordered prefix — INCLUDING the row itself — is ≤ `budget`
    * (strict cap, never overshoots). Deterministic in (key, seed) on
    * any cluster shape; monotone in the budget (a larger budget keeps
    * a superset — the prefix order is fixed). Same scale shape as
    * [[stratified]]: one window shuffle on the stratum; use bounded
    * strata.
    */
  def budgetSample(
      df: DataFrame,
      strata: Column,
      key: Column,
      cost: Column,
      budget: Long,
      seed: Long = 42L): DataFrame = {
    val ord = md5(concat(key.cast("string"), lit("|"), lit(seed.toString)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strata).orderBy(ord, key)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("__cum", sum(cost).over(w))
      .filter(col("__cum") <= budget)
      .drop("__cum")
  }

  /** Per-stratum row cap, SKEW-PROOF — the RefinedWeb/CCNet
    * "per-domain cap": keep at most `cap` rows per stratum (domain,
    * source, language), chosen in the deterministic md5 pseudo-random
    * order shared with [[stratified]]/[[budgetSample]], so the kept
    * subset is a pure function of (key, seed) on any cluster shape.
    *
    * [[budgetSample]] with `cost = 1` computes the SAME set but
    * windows each stratum into one task — fine for bounded strata,
    * a straggler when one domain is half the crawl (the documented
    * giant-domain reality of web corpora). This operator is the
    * 100 TB shape: a two-stage top-k. Stage 1 windows over
    * (stratum, salt) — `salts` deterministic sub-groups hashed from
    * the key — keeping each group's top `cap`; stage 2 windows over
    * the stratum alone, but now sees at most `salts·cap` rows per
    * stratum. Output is IDENTICAL to the single-window cap (every
    * member of a stratum's global top-cap ranks ≤ cap inside its own
    * salt group — restriction can only improve a rank), spec-asserted
    * against [[budgetSample]]. No stratum ever puts more than
    * ~n/salts rows in one task. `salts = 1` degenerates to the plain
    * single-window cap. */
  def capPerStratum(df: DataFrame, strata: Column, key: Column, cap: Int,
      seed: Long = 42L, salts: Int = 32): DataFrame = {
    require(cap > 0, "cap must be positive")
    require(salts > 0, "salts must be positive")
    import org.apache.spark.sql.expressions.Window
    val ord = md5(concat(key.cast("string"), lit("|"), lit(seed.toString)))
    val w2 = Window.partitionBy(strata).orderBy(ord, key)
    val pruned =
      if (salts == 1) df
      else {
        val salt = pmod(xxhash64(key, lit(seed)), lit(salts))
        val w1 = Window.partitionBy(strata, salt).orderBy(ord, key)
        df.withColumn("__r1", row_number().over(w1))
          .filter(col("__r1") <= cap)
          .drop("__r1")
      }
    pruned.withColumn("__r2", row_number().over(w2))
      .filter(col("__r2") <= cap)
      .drop("__r2")
  }

  /** Deterministic weighted sampling WITHOUT replacement — the
    * Efraimidis–Spirakis A-RES rule ("Weighted random sampling with a
    * reservoir", IPL 2006): row i with weight w_i > 0 draws score
    * u_i^(1/w_i) from its seeded uniform u_i, and the k highest
    * scores are the sample. Inclusion probabilities track relative
    * weights, and the draw is a pure function of (key, seed) — reruns,
    * task retries, and any cluster shape produce the SAME sample, the
    * reproducibility contract every seeded operator here carries.
    * This is the SELECTION step that pairs with the DSIR importance
    * weights ([[Stats.importanceWeight]]): score docs there, map the
    * log-ratio through exp() into a positive weight, draw the
    * training subset here.
    *
    * The score is rounded to 9 decimals before ranking (ties broken
    * by key) so the engine and a SQL oracle replaying the draw from
    * the exported uniforms can never disagree on a libm boundary
    * ulp — [[temperatureSample]]'s quota-rounding stance applied to a
    * ranking. Rows with a null/NaN/non-positive weight are excluded:
    * they cannot be drawn under the rule.
    *
    * Scale shape: one narrow map (hash + pow), then a global top-k —
    * Spark plans orderBy+limit as TakeOrderedAndProject (per-partition
    * top-k, one k·P-row merge), never a full sort shuffle. */
  def weightedSample(df: DataFrame, key: Column, weight: Column, k: Int,
      seed: Long = 42L): DataFrame = {
    require(k > 0, "k must be positive")
    val wd = weight.cast("double")
    val score = round(pow(uniform(key, seed), lit(1.0) / wd), 9)
    df.filter(wd.isNotNull && !isnan(wd) && wd > 0)
      .withColumn("__ws", score)
      .orderBy(col("__ws").desc, key)
      .limit(k)
      .drop("__ws")
  }

  /** Temperature-scaled mixture sampling — the multinomial `n^α` rule
    * of multilingual/multi-domain pretraining (mBERT, XLM-R, mT5):
    * stratum g with n_g rows gets a quota of `targetTotal · n_g^α /
    * Σ n^α` rows, so α < 1 flattens the mixture toward low-resource
    * strata and α = 1 is proportional sampling. Quotas are capped at
    * the stratum size (no replacement) and each stratum keeps the
    * md5-ordered prefix of its quota — deterministic in (key, seed)
    * on any cluster shape, same ordering contract as [[budgetSample]].
    *
    * The quota ratio is rounded to 6 decimals before the floor so the
    * engine and the SQL oracle can't disagree on a boundary ulp.
    *
    * Scale shape: one map-side-combined count aggregation (tiny — one
    * row per stratum), quota math on that tiny frame (single-partition
    * window is fine there), a broadcast join of quotas back, and ONE
    * window shuffle on the stratum for the rank — strata must be
    * bounded-cardinality dimensions (language, domain, source), which
    * is what a mixture is. */
  def temperatureSample(
      df: DataFrame,
      strata: Column,
      key: Column,
      targetTotal: Long,
      alpha: Double,
      seed: Long = 42L): DataFrame = {
    require(targetTotal >= 0, "targetTotal must be non-negative")
    require(alpha > 0, "alpha must be positive")
    val counts = df.groupBy(strata.as("__g")).agg(count(lit(1)).as("__n"))
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val quotas = counts
      .withColumn("__w", pow(col("__n").cast("double"), lit(alpha)))
      .withColumn("__quota", least(col("__n"),
        floor(round(lit(targetTotal.toDouble) * col("__w") / sum(col("__w")).over(all), 6))
          .cast("long")))
      .select(col("__g"), col("__quota"))
    val ord = md5(concat(key.cast("string"), lit("|"), lit(seed.toString)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strata).orderBy(ord, key)
    df.withColumn("__rk", row_number().over(w))
      .join(broadcast(quotas), strata === col("__g"))
      .filter(col("__rk") <= col("__quota"))
      .drop("__rk", "__g", "__quota")
  }

  /** Temperature resampling WITH replacement — the full mT5 rule:
    * [[temperatureSample]] caps each stratum at its size, but true
    * temperature balancing UPSAMPLES low-resource strata (their
    * quota n^α-share exceeds their row count) by repeating rows.
    * Stratum g with n_g rows and quota q_g emits ⌊q_g/n_g⌋ copies of
    * every row plus one extra copy for the first (q_g mod n_g) rows
    * of the md5 order — EXACTLY q_g output rows, deterministic in
    * (key, seed), downsampling handled by the same formula (base 0,
    * only the md5-prefix survives). Output adds a `copy` index
    * (0-based) so downstream shuffles can distinguish repeats.
    *
    * Scale shape: identical to [[temperatureSample]] (tiny quota agg,
    * broadcast back, one stratum-keyed rank window) plus a narrow
    * per-row `sequence` explode bounded by the repeat count. */
  def temperatureResample(
      df: DataFrame,
      strata: Column,
      key: Column,
      targetTotal: Long,
      alpha: Double,
      seed: Long = 42L): DataFrame = {
    require(targetTotal >= 0, "targetTotal must be non-negative")
    require(alpha > 0, "alpha must be positive")
    val counts = df.groupBy(strata.as("__g")).agg(count(lit(1)).as("__n"))
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val quotas = counts
      .withColumn("__w", pow(col("__n").cast("double"), lit(alpha)))
      .withColumn("__q",
        floor(round(lit(targetTotal.toDouble) * col("__w") / sum(col("__w")).over(all), 6))
          .cast("long"))
      .select(col("__g"), col("__n"), col("__q"))
    val ord = md5(concat(key.cast("string"), lit("|"), lit(seed.toString)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strata).orderBy(ord, key)
    df.withColumn("__rk", row_number().over(w))
      .join(broadcast(quotas), strata === col("__g"))
      .withColumn("__reps",
        floor(col("__q") / col("__n")).cast("long") +
          when(col("__rk") <= col("__q") % col("__n"), 1L).otherwise(0L))
      .filter(col("__reps") > 0)
      .withColumn("copy", explode(sequence(lit(0L), col("__reps") - 1)))
      .drop("__rk", "__g", "__n", "__q", "__reps")
  }

  /** Sequence packing for pretraining batch assembly: lay the corpus
    * out as a concatenated token stream (per stratum, in ascending
    * `key` order) cut every `capacity` tokens, and assign each
    * document the pack where its FIRST token lands plus its offset
    * into that pack — the standard concat-and-cut packing, where a
    * document crossing a boundary spills into the next pack. The
    * assignment is a pure window cumsum, so it is deterministic on any
    * cluster shape and exactly SQL-expressible (oracle-checkable),
    * unlike bin-packing heuristics that need sequential state.
    *
    * Scale note: one window shuffle partitioned by `strata`, totally
    * ordered WITHIN each stratum — so strata must be bounded-size
    * units of packing, not "the whole corpus". Include a deterministic
    * shard column (e.g. `pmod(id, nShards)`) in `strata` to bound
    * them: packing is embarrassingly parallel across shards, and cuts
    * only ever happen within a shard's stream. */
  def packSequences(
      df: DataFrame,
      key: Column,
      cost: Column,
      capacity: Long,
      strata: Seq[Column] = Nil): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strata: _*).orderBy(key)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val start = coalesce(sum(cost).over(w), lit(0L)) // tokens before this doc in the stream
    df.withColumn("pack_id", floor(start / capacity).cast("long"))
      .withColumn("pack_offset", (start % capacity).cast("long"))
  }

  /** Concat-then-chunk training-example assembly — the GPT-style
    * loader recipe that [[packSequences]] deliberately is not:
    * documents are laid out in one deterministic token stream (ordered
    * by `key` within each stratum) and cut into examples of EXACTLY
    * `ctx` tokens, documents splitting across example boundaries.
    * Every token is used, no example is padded; the price is that
    * boundary documents straddle two (or more) examples — the standard
    * pretraining trade, where [[packSequences]] is the no-split
    * first-fit used when documents must stay whole (SFT).
    *
    * Emits one row per (document, example) SEGMENT: `chunk_id` (the
    * example), `seg_begin` (first token of the segment, 0-based within
    * the document), `seg_len`, and `chunk_offset` (where the segment
    * starts inside the example) — exactly what a loader needs to
    * materialize examples without ever re-tokenizing. Pure integer
    * arithmetic on a per-stratum running sum: deterministic on any
    * cluster shape. Rows with null/non-positive `cost` are excluded
    * (a 0-token document contributes no tokens to any example).
    *
    * Scale shape: identical to [[packSequences]] — ONE window over
    * (strata, key) computing the running offset, then a narrow
    * bounded explode (a document spans ⌈cost/ctx⌉+1 examples at
    * most). Strata must be bounded-size packing units (include a
    * deterministic shard column); the stream and its cuts are
    * per-stratum, embarrassingly parallel across strata. */
  def chunkConcat(
      df: DataFrame,
      key: Column,
      cost: Column,
      ctx: Long,
      strata: Seq[Column] = Nil): DataFrame = {
    require(ctx > 0, "ctx must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strata: _*).orderBy(key)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cl = cost.cast("long")
    val start = coalesce(sum(cl).over(w), lit(0L))
    df.filter(cl.isNotNull && cl > 0)
      .withColumn("__start", start)
      .withColumn("__first", floor(col("__start") / ctx).cast("long"))
      .withColumn("__last",
        floor((col("__start") + cl - 1) / ctx).cast("long"))
      .withColumn("chunk_id", explode(sequence(col("__first"), col("__last"))))
      .withColumn("seg_begin",
        greatest(lit(0L), col("chunk_id") * ctx - col("__start")))
      .withColumn("seg_len",
        least(cl, (col("chunk_id") + 1) * ctx - col("__start")) -
          col("seg_begin"))
      .withColumn("chunk_offset",
        col("__start") + col("seg_begin") - col("chunk_id") * ctx)
      .drop("__start", "__first", "__last")
  }

  /** Leakage-safe split: assign every member of a near-dup CLUSTER to
    * the same split. A plain per-row [[assign]] lets near-duplicates
    * of a training doc land in the test set — the contamination that
    * silently inflates eval numbers, and the reason production
    * pipelines split at group granularity (GroupShuffleSplit, WMT's
    * document-level splits). Pairs come from any enumerator
    * ([[Dedup.simhashPairs]], [[Dedup.jaccardPairs]],
    * [[Similarity.similarPairsApprox]]); cluster ids from
    * [[DupClusters.connectedComponents]] (min reachable id —
    * deterministic in the graph, not the enumeration order); the
    * split label is `assign(cluster_id)`, so whole cliques move
    * together and isolated docs (the overwhelming majority) behave
    * exactly like [[split]].
    *
    * Scale shape: the pair enumeration dominates (bucketed or
    * cell-pruned, by construction of the enumerators); components loop only over
    * edge-participating vertices; the final label is a narrow map —
    * no extra shuffle beyond the cluster join. */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      seed: Long = 42L,
      ratios: Seq[(String, Double)] =
        Seq("train" -> 0.9, "validation" -> 0.05, "test" -> 0.05)): DataFrame = {
    val comps = DupClusters.connectedComponents(
      df.select(col(idCol)), pairs.select(col("id_a"), col("id_b")))
    // key the cluster id exactly like [[split]] keys a row id, so an
    // isolated doc (cluster = its own id) gets the identical label it
    // would get from a plain per-row split
    df.join(comps.select(col("id").as(idCol), col("cluster").as("__cluster")), Seq(idCol))
      .withColumn("split", assign(graft.functions.text.dedup_key(col("__cluster")), seed, ratios))
      .drop("__cluster")
  }

  /** Byte-balanced shard assignment — the OUTPUT-layout primitive a
    * training-data pipeline needs between curation and the loader:
    * lay the corpus out in ascending `key` order as one cost stream
    * (cost = bytes, tokens, ...) cut every `targetCost`, and give each
    * row the shard where its first unit lands (`shard`) plus its
    * offset into that shard (`shard_offset`). Every shard except the
    * last then carries `targetCost ± max(cost)` — size-balanced files
    * for sequential loaders, unlike row-count `NTILE` sharding, which
    * skews bytes whenever document length does.
    *
    * Semantics are exactly "global exclusive cumsum of `cost` ordered
    * by `key`, divided by `targetCost`" — SQL-expressible, so the
    * whole distributed machinery below is hash-checked against a
    * single DuckDB window (q99).
    *
    * Scale shape — a GLOBAL ordered cumsum without a global window
    * (a 1-partition window is the textbook driver-shaped bottleneck;
    * Spark even warns "No Partition Defined for Window"). Classic
    * distributed prefix-sum instead:
    *   1. bucket boundaries = `approx_percentile(key)` at `buckets`
    *      quantiles — one aggregation, B-1 longs to the driver
    *      (deterministic: Greenwald-Khanna has no RNG);
    *   2. bucket id = [[graft.functions.RankInSortedLongs]] O(log B)
    *      map-side probe (boundaries ride as a codegen reference
    *      object — no join);
    *   3. per-bucket totals → driver exclusive prefix → offsets array
    *      indexed by `element_at` (B longs, map-side again);
    *   4. ONE shuffle: a per-bucket window (partitionBy bucket,
    *      orderBy key) adds the within-bucket exclusive cumsum to the
    *      bucket's offset.
    * Buckets are quantile-sized (~n/B rows each), so the window's
    * per-partition sort is bounded; `buckets` scales with cluster
    * parallelism, and the OUTPUT is invariant to it (SplitSpec).
    *
    * `key` must be a unique long id (ties would leave the stream
    * order — and the cut points — engine-defined); `cost` must be
    * non-negative and non-null.
    */
  def assignShards(
      df: DataFrame,
      key: Column,
      cost: Column,
      targetCost: Long,
      buckets: Int = 64): DataFrame = {
    require(targetCost > 0, "targetCost must be positive")
    require(buckets > 0, "buckets must be positive")
    val keyed = df.withColumn("__k", key.cast("long"))
      .withColumn("__c", cost.cast("long"))
    // 1. deterministic range boundaries: B-1 interior quantiles of key
    val probs = (1 until buckets).map(_.toDouble / buckets)
    val bounds: Array[Long] =
      if (probs.isEmpty) Array.empty // buckets=1: everything in bucket 0
      else {
        val row = keyed.agg(
          percentile_approx(col("__k"), lit(probs.toArray), lit(10000)).as("bs"))
          .head()
        if (row.isNullAt(0)) Array.empty // empty input
        else row.getSeq[Long](0).distinct.sorted.toArray
      }
    // 2. map-side bucket id (0..|bounds|); rank counts bounds <= k, so
    // rows AT a boundary land with their predecessors — any monotone
    // tie-break works, it only moves the bucket edge, not the order
    val bucketOf = graft.functions.text.expr2col(
      graft.functions.RankInSortedLongs(
        graft.functions.text.col2expr(col("__k")), bounds))
    val bucketed = keyed.withColumn("__b", bucketOf)
    // 3. bucket totals (B rows) → exclusive prefix offsets on the driver
    val totals = bucketed.groupBy(col("__b")).agg(sum(col("__c")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Array[Long] = (0 to bounds.length)
      .map(totals.getOrElse(_, 0L))
      .scanLeft(0L)(_ + _).init.toArray
    // 4. one bucket-partitioned window; global cumsum = offset + local
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col("__k"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val globalStart =
      element_at(lit(offsets), col("__b") + 1) + coalesce(sum(col("__c")).over(w), lit(0L))
    bucketed
      .withColumn("shard", floor(globalStart / targetCost).cast("long"))
      .withColumn("shard_offset", (globalStart % targetCost).cast("long"))
      .drop("__k", "__c", "__b")
  }

  /** Write [[assignShards]] output as one directory per shard
    * (`shard=N/`), one file per shard (`repartition` by the shard id
    * before `partitionBy`, so a 1000-executor write still emits
    * exactly one loader-sized file per shard instead of
    * executors × shards fragments). */
  def writeShards(df: DataFrame, key: Column, cost: Column, targetCost: Long,
      path: String, buckets: Int = 64): Unit =
    assignShards(df, key, cost, targetCost, buckets)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), key)
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Deterministic per-epoch training-order shuffle: every row gets a
    * `shuffle_key` (the portable 60-bit md5-prefix hash of
    * `"<id>:<epoch>:<seed>"` — [[graft.operators.Winnow.gramHash]]
    * identity, so DuckDB replays the permutation bit-for-bit) and its
    * global 0-based `epoch_pos` under (`shuffle_key`, id) order — a
    * fresh pseudo-random permutation per epoch, identical on every
    * rerun, cluster shape, and resume.
    *
    * Why hash-keyed, not `ORDER BY rand()`: at 100 TB the order must
    * be REPRODUCIBLE (a retried stage, a resumed job, or a different
    * partition count must not reshuffle the epoch — rand() output
    * depends on partition assignment), and addressable (a loader
    * resuming mid-epoch seeks to `epoch_pos >= P` instead of
    * replaying the stream). The position is computed with the q99
    * distributed prefix-sum shape, NOT a global window (a 1-partition
    * window is the textbook driver-shaped bottleneck): quantile
    * bucket boundaries on the hash (one agg, B−1 longs to the
    * driver), map-side bucket id, B-row count prefix on the driver,
    * then ONE bucket-partitioned window whose per-partition sort is
    * quantile-bounded (~n/B rows). Output is invariant to `buckets`
    * (SplitSpec), which just tracks cluster parallelism. Epoch-ordered
    * WRITING composes downstream: `repartitionByRange(shuffle_key)` +
    * sort-within-partitions, or [[writeShards]] with cost 1 over
    * `epoch_pos` for loader-sized files. */
  def epochOrder(df: DataFrame, idCol: Column, epoch: Int,
      seed: Long = 42L, buckets: Int = 64): DataFrame = {
    require(epoch >= 0, "epoch must be >= 0")
    require(buckets > 0, "buckets must be positive")
    val skey = graft.operators.Winnow.gramHash(
      concat(idCol.cast("string"), lit(":"), lit(epoch).cast("string"),
        lit(":"), lit(seed).cast("string")))
    val keyed = df.withColumn("shuffle_key", skey)
    val probs = (1 until buckets).map(_.toDouble / buckets)
    val bounds: Array[Long] =
      if (probs.isEmpty) Array.empty
      else {
        val row = keyed.agg(percentile_approx(col("shuffle_key"),
          lit(probs.toArray), lit(10000)).as("bs")).head()
        if (row.isNullAt(0)) Array.empty
        else row.getSeq[Long](0).distinct.sorted.toArray
      }
    val bucketOf = graft.functions.text.expr2col(
      graft.functions.RankInSortedLongs(
        graft.functions.text.col2expr(col("shuffle_key")), bounds))
    val bucketed = keyed.withColumn("__b", bucketOf)
    val totals = bucketed.groupBy(col("__b")).agg(count(lit(1)).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Array[Long] = (0 to bounds.length)
      .map(totals.getOrElse(_, 0L))
      .scanLeft(0L)(_ + _).init.toArray
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col("shuffle_key"), idCol)
    bucketed
      .withColumn("epoch_pos",
        (element_at(lit(offsets), col("__b") + 1) +
          row_number().over(w) - 1).cast("long"))
      .drop("__b")
  }

  /** O5 — split-disjointness invariant: pairwise key intersections empty. */
  def disjoint(a: DataFrame, b: DataFrame, keyCols: Seq[String]): Boolean = {
    val ka = a.select(Dedup.compositeKey(keyCols).as("k"))
    val kb = b.select(Dedup.compositeKey(keyCols).as("k"))
    ka.intersect(kb).isEmpty
  }

  /** Deterministic weighted stratum interleave — the training-ORDER
    * counterpart of the temperature-sampling family: after sampling
    * decides WHAT is in the mixture, data blending decides the order
    * the loader consumes it in, and a mixture read stratum-by-stratum
    * trains on one domain at a time. Stratum g with n_g rows gets
    * weight `n_g^alpha` (α = 1 proportional blending, α < 1 flattens
    * toward low-resource strata — the same n^α rule as
    * [[temperatureSample]]); its k-th row (1-based, ascending `key`)
    * is placed at virtual position `(k − 0.5) / w_g`, i.e. weighted
    * fair queuing: any prefix of the `mix_pos` order contains each
    * stratum in proportion to its weight (±1 row). Output adds
    * `mix_rank` (rank within the stratum) and `mix_pos` (the global
    * sort key) — consumers order by (`mix_pos`, tie-break) or
    * `repartitionByRange(mix_pos)` + sort-within-partitions for a
    * cluster-scale write, so no global window ever runs.
    *
    * The weight is rounded to 6 places (the [[temperatureSample]]
    * cross-engine contract); the POSITION is emitted at full double
    * precision — rounding it would collapse adjacent positions once a
    * stratum outgrows ~10⁶ rows and break the ±1 prefix contract
    * exactly at scale. Oracle queries round the position on BOTH
    * engines at comparison time instead.
    *
    * Scale shape: one tiny count aggregation, a broadcast join of
    * per-stratum weights, ONE stratum-keyed rank window —
    * bounded-strata contract like the rest of the family.
    *
    * Rows with a NULL stratum are dropped (the weight join is
    * null-unsafe, matching SQL join semantics): a null domain has no
    * defined blending weight — label it explicitly upstream. */
  def interleaveStrata(df: DataFrame, strata: Column, key: Column,
      alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, "alpha must be positive")
    val weights = df.groupBy(strata.as("__g"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", round(pow(col("__n").cast("double"), lit(alpha)), 6))
      .select(col("__g"), col("__w"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strata).orderBy(key)
    df.withColumn("mix_rank", row_number().over(w).cast("long"))
      .join(broadcast(weights), strata === col("__g"))
      .withColumn("mix_pos",
        (col("mix_rank").cast("double") - lit(0.5)) / col("__w"))
      .drop("__g", "__w")
  }

  /** One DoReMi-style domain-reweighting step (Xie et al., "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    * 2023): given a per-document loss signal, compute each domain's
    * mean EXCESS loss over the corpus-wide reference mean (clamped at
    * 0 — only domains the reference handles worse than average earn
    * up-weight), apply a multiplicative-weights update to the
    * baseline share w₀ = n_domain / n_total, renormalize, and mix
    * with the uniform distribution at `smoothing` so no domain's
    * weight can collapse to zero:
    *
    *   weight = (1 − c) · w₀·exp(η·excess) / Σ w₀·exp(η·excess) + c/K
    *
    * The output is the next round's sampling mixture — feed `weight`
    * to [[budgetSample]]/[[temperatureSample]] quotas. The published
    * procedure iterates this update inside proxy-model training; one
    * engine-side step IS the inner update, with the loss column
    * supplied by whatever scorer the caller trusts (held-out
    * log-loss, [[graft.operators.Classifier]] log-odds,
    * [[graft.operators.Stats.unigramSurprisal]]…).
    *
    * Scale shape: one corpus-scale map-side-combined aggregation to
    * (domain, n, Σloss); everything after runs on the domain frame,
    * whose cardinality is bounded by design (languages, sources,
    * crawl buckets — never corpus-scale), attached via the
    * broadcast-totals pattern twice (reference mean, then the
    * normalizer). Integer-valued loss columns make the whole output
    * exactly reproducible (long sums are order-independent; double
    * sums agree to the rounded surface). */
  def domainReweight(df: DataFrame, domain: Column, loss: Column,
      eta: Double = 1.0, smoothing: Double = 0.01): DataFrame = {
    require(eta >= 0, "eta must be >= 0")
    require(smoothing >= 0 && smoothing <= 1, "smoothing must be in [0, 1]")
    val per = df.select(domain.as("domain"), loss.cast("double").as("__l"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"), sum("__l").as("__sl"))
    val tot = per.agg(sum("n_docs").as("__tn"), sum("__sl").as("__tl"),
      count(lit(1)).as("__k"))
    val upd = per.crossJoin(broadcast(tot))
      .withColumn("excess",
        greatest(col("__sl") / col("n_docs") - col("__tl") / col("__tn"),
          lit(0.0)))
      .withColumn("__up",
        col("n_docs").cast("double") / col("__tn") * exp(lit(eta) * col("excess")))
    val norm = upd.agg(sum("__up").as("__z"))
    upd.crossJoin(broadcast(norm))
      .select(col("domain"), col("n_docs"),
        round(col("excess"), 6).as("excess"),
        round(lit(1.0 - smoothing) * col("__up") / col("__z") +
          lit(smoothing) / col("__k"), 6).as("weight"))
  }
}
