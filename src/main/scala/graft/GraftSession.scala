package graft

import org.apache.spark.sql.SparkSession

/** Canonical session configuration for the engine.
  *
  * Scale-relevant defaults:
  *  - AQE on (runtime partition coalescing + skew-join splitting);
  *  - shuffle partitions sized for the local[32] test harness — on a
  *    real cluster this is overridden to ~2-3× total cores;
  *  - UTC session timezone (oracle parity);
  *  - nanosAsLong so parquet TIMESTAMP(NANOS) sources load (Spark has
  *    no native nanos type; Tables.events converts to micros).
  *
  * Scan parallelism note: splits land on parquet row-group boundaries,
  * so a single-row-group file is one task no matter the config — lay
  * out production tables with row groups ≤ maxPartitionBytes. The
  * compute-heavy narrow expressions (CharNGrams, the MinHash signing
  * and band-key kernels ShingleMinHash and MinHashBandKeys) are native
  * and cheap enough that a single-split scan is not a bottleneck at
  * test scale.
  */
object GraftSession {

  /** The engine-wide optimizer-rule exclusion list (comma-separated,
    * the `spark.sql.optimizer.excludedRules` format). Callers adding
    * their own exclusions must APPEND to this constant — setting the
    * conf to a bare rule name replaces it and silently re-enables
    * InferFiltersFromGenerate (see the builder comment). */
  val ExcludedOptimizerRules: String =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Parquet TIMESTAMP(isAdjustedToUTC=false) otherwise loads as
      // TIMESTAMP_NTZ, which watermarks/window() reject; with a UTC
      // session the instant semantics are identical either way.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // InferFiltersFromGenerate synthesizes `size(gen) > 0 AND
      // isnotnull(gen)` under every explode and predicate pushdown
      // then drags that filter below projections and exchanges,
      // SUBSTITUTING the generator's expression tree into it — for
      // this engine's explodes the generator is almost always an
      // expensive derived set (char_ngrams, word n-grams, MinHash
      // bands, winnow fingerprints), never a stored array, so the
      // "optimization" re-evaluates the expensive expression 1-2
      // extra times per row, frequently inside the single-task scan
      // stage below the spread repartition (measured: the q45
      // tokenize stage runs 3.4 s single-task with the inferred
      // filter vs 0.3 s without; outputs bit-identical — the
      // explode itself already skips empty/null arrays). Excluded
      // engine-wide: rows-with-empty-sets pruning buys nothing when
      // the set is computed, not stored.
      //
      // APPEND, DON'T REPLACE: spark.sql.optimizer.excludedRules is a
      // single comma-separated value — a later .config() call with a
      // different exclusion silently REPLACES this one (re-enabling
      // InferFiltersFromGenerate and re-paying the double evaluation
      // engine-wide). Extend [[ExcludedOptimizerRules]] instead.
      .config("spark.sql.optimizer.excludedRules", ExcludedOptimizerRules)
      .config("spark.ui.enabled", "false")

  /** The engine's session: [[builder]]'s config plus everything the
    * engine installs on a live session — SQL functions, the optimizer
    * rules and the NaN-quarantine listener — set once, at build. */
  def get(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerFunctions(spark)
    installOptimizerRules(spark)
    operators.NanQuarantine.install(spark)
    spark
  }

  /** Install the engine's optimizer rules on an existing session (the
    * `spark.sql.extensions=graft.GraftExtensions` path gets them at
    * session build instead). Idempotent. */
  def installOptimizerRules(spark: SparkSession): Unit = {
    var current = spark.experimental.extraOptimizations
    if (!current.exists(_.isInstanceOf[graft.plans.JaccardJoinRewrite]))
      current = current :+ graft.plans.JaccardJoinRewrite(spark)
    if (!current.exists(_.isInstanceOf[graft.plans.CosineJoinRewrite]))
      current = current :+ graft.plans.CosineJoinRewrite(spark)
    if (!current.exists(_.isInstanceOf[graft.plans.RangeJoinRewrite]))
      current = current :+ graft.plans.RangeJoinRewrite(spark)
    if (!current.exists(_.isInstanceOf[graft.plans.HammingJoinRewrite]))
      current = current :+ graft.plans.HammingJoinRewrite(spark)
    spark.experimental.extraOptimizations = current
  }

  /** Register graft's custom Catalyst expressions for SQL callers
    * (`SELECT unicode_nfc(col) FROM ...`). Same registry as the
    * [[GraftExtensions]] `spark.sql.extensions` entry point. */
  def registerFunctions(spark: SparkSession): Unit = {
    import org.apache.spark.sql.graftbridge.bridge
    GraftExtensions.functions.foreach { case (name, builder) =>
      bridge.registerFunction(spark, name, builder)
    }
  }
}
