package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Quality}
import graft.sources.CorpusIO
import graft.warehouse.Warehouse

/** The reference's Airflow medallion DAG
  * (/root/reference/airflow_dags/corc_nah_etl_dag.py:246-263) as staged
  * Spark jobs: bronze (raw ingest) → silver (normalize + validity) →
  * diamond (exact dedup-best + banded MinHash near-dup) → gold (seeded
  * split, partitioned parquet) → GE-suite quality gate.
  *
  * Each stage materializes parquet — the same restart boundaries the
  * DAG's tasks give — and `run` logs one `data_lineage` row per stage
  * plus the quality metrics into the metadata warehouse. Every stage's
  * output count rides its write via `observe()`, so no stage is
  * scanned twice for accounting.
  */
object MedallionPipeline {

  final case class StageResult(stage: String, in: Long, out: Long, path: String)

  private def writeCounted(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Long = {
    val obs = Observation()
    val observed = df.observe(obs, count(lit(1)).as("n"))
    CorpusIO.writeParquet(observed, path, partitionBy)
    obs.get("n").asInstanceOf[Long]
  }

  /** Bronze: raw JSONL globs → canonical records (legacy-key
    * coalescing), materialized as parquet. */
  def bronze(spark: SparkSession, inGlobs: Seq[String], outPath: String): StageResult = {
    val raw = CorpusIO.readJsonl(spark, inGlobs, "bronze")
    val n = writeCounted(raw, outPath)
    StageResult("bronze", n, n, outPath)
  }

  /** Silver: per-language normalization + translation-pair validity. */
  def silver(spark: SparkSession, bronzePath: String, outPath: String): StageResult = {
    val bronze = spark.read.parquet(bronzePath)
    val cleaned = CorpusIO.validityFilter(UnifyPipeline.normalize(bronze))
      .withColumn("layer", lit("silver"))
    val n = writeCounted(cleaned, outPath)
    StageResult("silver", -1L, n, outPath)
  }

  /** Diamond: exact dedup-best (layer priority) then banded MinHash
    * near-dup removal over the concatenated pair text. The fuzzy id is
    * a content hash — deterministic across runs, unlike
    * monotonically_increasing_id. */
  def diamond(spark: SparkSession, silverPath: String, outPath: String,
      fuzzyThreshold: Double = 0.5): StageResult = {
    val silver = spark.read.parquet(silverPath)
    val exact = UnifyPipeline.dedupBest(silver)
    val withId = exact.withColumn("__rid", xxhash64(
      coalesce(col("es"), lit("")), coalesce(col("nah"), lit("")),
      coalesce(col("myn"), lit(""))))
    val fuzzy = Dedup.minhashDedup(withId, "__rid",
        concat_ws(" ", col("es"), col("nah"), col("myn")), threshold = fuzzyThreshold)
      .drop("__rid")
      .withColumn("layer", lit("diamond"))
    val n = writeCounted(fuzzy, outPath)
    StageResult("diamond", -1L, n, outPath)
  }

  /** Gold: deterministic seeded split, parquet partitioned by split
    * (dynamic partition pruning for split-scoped consumers). */
  def gold(spark: SparkSession, diamondPath: String, outPath: String,
      seed: Long = 42L,
      ratios: Seq[(String, Double)] = graft.operators.Split.defaultRatios): StageResult = {
    val g = UnifyPipeline.withSplit(
      spark.read.parquet(diamondPath).withColumn("layer", lit("gold")), seed, ratios)
    val n = writeCounted(g, outPath, partitionBy = Seq("split"))
    StageResult("gold", -1L, n, outPath)
  }

  /** Full Bronze→Silver→Diamond→Gold progression with per-stage
    * lineage and the quality gate on gold. Returns the stage results
    * and the gate's check results (exit semantics via
    * [[Quality.gate]]). */
  def run(
      spark: SparkSession,
      inGlobs: Seq[String],
      baseDir: String,
      seed: Long = 42L,
      fuzzyThreshold: Double = 0.5,
      suite: Seq[Quality.QualityCheck] = Quality.corpusSuite(minVolume = 1L),
      tracker: Option[Warehouse.MetricsTracker] = None)
      : (Seq[StageResult], Seq[Quality.CheckResult]) = {
    val b = bronze(spark, inGlobs, s"$baseDir/bronze")
    val s = silver(spark, b.path, s"$baseDir/silver").copy(in = b.out)
    val d = diamond(spark, s.path, s"$baseDir/diamond", fuzzyThreshold).copy(in = s.out)
    val g = gold(spark, d.path, s"$baseDir/gold", seed).copy(in = d.out)
    val stages = Seq(b, s, d, g)
    val results = Quality.run(spark.read.parquet(g.path), suite)
    tracker.foreach { t =>
      stages.foreach(st => t.lineage(st.path, "parquet", st.stage, st.in, st.out))
      results.foreach(r => t.metric(r.name, r.observed, "rate"))
    }
    (stages, results)
  }

  /** [[run]] with every stage wrapped in the reference DAG's
    * retry/SLA policy (corc_nah_etl_dag.py:26-37 → a transient stage
    * failure re-runs from THAT stage's parquet restart boundary, not
    * from bronze). Per-stage attempt counts, wall clocks and SLA
    * misses land in the metadata warehouse alongside the lineage
    * rows; `pipelineSlaMs` mirrors the DAG's run-wide 2 h SLA. */
  def runRetrying(
      spark: SparkSession,
      inGlobs: Seq[String],
      baseDir: String,
      policy: Orchestration.RetryPolicy = Orchestration.RetryPolicy(),
      pipelineSlaMs: Long = 2L * 60 * 60 * 1000,
      seed: Long = 42L,
      fuzzyThreshold: Double = 0.5,
      suite: Seq[Quality.QualityCheck] = Quality.corpusSuite(minVolume = 1L),
      tracker: Option[Warehouse.MetricsTracker] = None,
      ratios: Seq[(String, Double)] = graft.operators.Split.defaultRatios,
      sleep: Long => Unit = Thread.sleep)
      : (Seq[Orchestration.StageRun[StageResult]], Seq[Quality.CheckResult]) = {
    import Orchestration.runStage
    val start = System.nanoTime()
    val b = runStage("bronze", policy, sleep)(
      bronze(spark, inGlobs, s"$baseDir/bronze"))
    val s = runStage("silver", policy, sleep)(
      silver(spark, b.result.path, s"$baseDir/silver").copy(in = b.result.out))
    val d = runStage("diamond", policy, sleep)(
      diamond(spark, s.result.path, s"$baseDir/diamond", fuzzyThreshold)
        .copy(in = s.result.out))
    val g = runStage("gold", policy, sleep)(
      gold(spark, d.result.path, s"$baseDir/gold", seed, ratios)
        .copy(in = d.result.out))
    val q = runStage("quality", policy, sleep)(
      Quality.run(spark.read.parquet(g.result.path), suite))
    val stages = Seq(b, s, d, g)
    val pipelineWallMs = (System.nanoTime() - start) / 1000000L
    tracker.foreach { t =>
      stages.foreach { st =>
        t.lineage(st.result.path, "parquet", st.stage, st.result.in, st.result.out)
        t.metric(s"${st.stage}_attempts", st.attempts.toDouble, "count")
        t.metric(s"${st.stage}_wall_ms", st.wallMs.toDouble, "ms")
        t.metric(s"${st.stage}_sla_missed", if (st.slaMissed) 1.0 else 0.0, "flag")
      }
      // the quality stage retries and accrues SLA state like every
      // other stage — its telemetry must land too (it has no lineage
      // row: it materializes no layer)
      t.metric("quality_attempts", q.attempts.toDouble, "count")
      t.metric("quality_wall_ms", q.wallMs.toDouble, "ms")
      t.metric("quality_sla_missed", if (q.slaMissed) 1.0 else 0.0, "flag")
      t.metric("pipeline_wall_ms", pipelineWallMs.toDouble, "ms")
      t.metric("pipeline_sla_missed",
        if (pipelineWallMs > pipelineSlaMs) 1.0 else 0.0, "flag")
      q.result.foreach(r => t.metric(r.name, r.observed, "rate"))
    }
    (stages, q.result)
  }
}
