package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the 100 TB contract. A query that loses
  * its filter pushdown, broadcast, or codegen span still returns the
  * right rows at sf0.01 and quietly dies at scale; these tests pin the
  * plan shape itself.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("round-3 curation queries never plan a cartesian or nested loop") {
    // q77 needs its session conf + rule installed (RangeRewriteSpec
    // covers it); q80's only non-equi join is the broadcast of its
    // single-row total (asserted separately below).
    for (q <- Seq("q68_line_dedup", "q69_dup_ngram_profile", "q70_sequence_pack",
        "q72_simhash_near_dedup", "q75_curation_gate", "q76_range_join",
        "q78_chunk_overlap", "q79_duplicate_spans",
        "q103_curriculum_interleave", "q105_leak_report")) {
      val plan = formatted(q)
      assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
        s"$q must not cross-product:\n$plan")
    }
    val q80 = formatted("q80_unigram_surprisal")
    assert(!q80.contains("CartesianProduct"), s"q80 must not cartesian:\n$q80")
  }

  test("q81-q89 curation additions: no cartesians; the stream gate plans as a pure filter") {
    // q85 broadcasts its single-row totals (nested-loop by shape, like
    // q80); q86 is the documented exact-kNN baseline whose broadcast
    // non-equi join IS the brute force — both still must never plan a
    // CartesianProduct.
    for (q <- Seq("q81_contamination_profile", "q82_pii_redaction",
        "q83_c4_line_rules", "q84_temperature_sample",
        "q87_leakage_safe_split", "q88_relative_filter")) {
      val plan = formatted(q)
      assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
        s"$q must not cross-product:\n$plan")
    }
    for (q <- Seq("q85_importance_weight", "q86_margin_mine")) {
      val plan = formatted(q)
      assert(!plan.contains("CartesianProduct"), s"$q must not cartesian:\n$plan")
    }
    // q89's whole gate is ONE map-side membership filter: no join
    // operator anywhere in the plan, and the native expression is in
    // the filter condition
    val q89 = formatted("q89_decontaminate_gate")
    assert(!q89.contains("Join"), s"q89 must be join-free:\n$q89")
    assert(q89.contains("count_in_sorted_longs"),
      s"q89 must filter via the native membership kernel:\n$q89")
    // the composed pipeline, resampler, ANN miner and span rewriter
    // stay cartesian-free too
    for (q <- Seq("q92_curation_pipeline", "q93_temperature_resample",
        "q95_margin_mine_ann", "q96_remove_duplicate_spans",
        "q97_ngram_dedup_guarded", "q98_remove_spans_raw")) {
      val plan = formatted(q)
      assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
        s"$q must not cross-product:\n$plan")
    }
    // q99's distributed prefix-sum must stay join-free on the main
    // data (offsets are map-side element_at, buckets a codegen probe)
    // and must never fall back to a global single-partition window
    val q99 = formatted("q99_shard_assign")
    assert(!q99.contains("Join") && !q99.contains("CartesianProduct"),
      s"q99 must be join-free:\n$q99")
    assert(q99.contains("rank_in_sorted_longs"),
      s"q99 must bucket via the native range probe:\n$q99")
    assert(!q99.contains("SinglePartition"),
      s"q99 must not use a 1-partition global window:\n$q99")
  }

  /** Every WindowExec with EMPTY partitioning must sit above a grouped
    * aggregate — i.e. its input frame is bounded-cardinality (one row
    * per stratum/group), never a corpus-sized scan. An unpartitioned
    * window over raw rows serializes the whole frame through one task
    * at any scale; the quota windows (temperatureSample/-Resample,
    * budget/stratified splits) are safe exactly because they window
    * COUNT frames. This makes that protection structural rather than
    * conventional (round-12 verdict item). */
  private def unpartitionedWindowsBounded(
      df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def hasGroupedAgg(p: SparkPlan): Boolean = p.collectFirst {
      case a: HashAggregateExec if a.groupingExpressions.nonEmpty => a
      case a: ObjectHashAggregateExec if a.groupingExpressions.nonEmpty => a
      case a: SortAggregateExec if a.groupingExpressions.nonEmpty => a
    }.isDefined
    val offenders = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty && !hasGroupedAgg(w.child) => w
    }
    offenders.isEmpty
  }

  test("unpartitioned windows only ever see bounded (grouped-aggregate) frames") {
    val docs = Tables.documents(spark, dir)
    // the quota-window operators: global sum windows over per-stratum
    // COUNT frames — bounded by construction, the checker must accept
    assert(unpartitionedWindowsBounded(operators.Split.temperatureSample(
      docs, col("lang"), col("doc_id"), targetTotal = 100, alpha = 0.5)),
      "temperatureSample's global quota window must sit above the stratum counts")
    assert(unpartitionedWindowsBounded(operators.Split.temperatureResample(
      docs, col("lang"), col("doc_id"), targetTotal = 100, alpha = 0.5)),
      "temperatureResample's global quota window must sit above the stratum counts")
    // declared queries through the quota windows stay bounded too
    for (q <- Seq("q84_temperature_sample", "q93_temperature_resample",
        "q50_stratified_split", "q62_budget_sample")) {
      assert(unpartitionedWindowsBounded(SparkEntry.queries(q)(spark, dir)),
        s"$q windows an unbounded frame globally")
    }
    // negative control: a global row_number over the raw corpus is
    // exactly the shape the checker exists to catch
    val bad = docs.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))))
    assert(!unpartitionedWindowsBounded(bad),
      "checker must flag a global window over a corpus-sized frame")
  }

  test("q1: shipdate filter is pushed to the parquet scan and columns pruned") {
    val plan = formatted("q1_pricing_summary")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$plan")
    assert(!plan.contains("l_orderkey"), "unused columns must be pruned from the scan")
  }

  test("q2: dimension joins are broadcast, fact side streams") {
    val plan = formatted("q2_revenue_by_nation")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3, s"expected ≥3 broadcast joins (customer/nation/region), got $broadcasts")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q1: aggregation is partial+final hash aggregate (map-side combine)") {
    val plan = formatted("q1_pricing_summary")
    assert("HashAggregate".r.findAllIn(plan).length >= 2, "partial+final HashAggregate expected")
  }

  test("custom NFC expression participates in whole-stage codegen") {
    val df = Tables.documents(spark, dir)
      .select(functions.text.unicode_nfc(col("text")).as("t"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("unicode_normalize"), s"expression missing:\n$plan")
    assert(plan.startsWith("*"), "projection must be inside a WholeStageCodegen stage")
    // and it must actually evaluate under codegen (doGenCode, not fallback)
    assert(df.count() > 0)
  }

  test("unicode_nfc is SQL-callable via FunctionRegistry") {
    GraftSession.registerFunctions(spark)
    val r = spark.sql("SELECT unicode_nfc('ā') AS t").head().getString(0)
    assert(r === "ā", "decomposed a+macron must compose to ā through SQL")
  }

  test("char_ngrams / word_ngrams / sorted_intersect_size / vector_dot are SQL-callable") {
    GraftSession.registerFunctions(spark)
    val row = spark.sql(
      """SELECT
        |  char_ngrams('abcd', 3) AS g,
        |  word_ngrams('The quick  brown', 2) AS w,
        |  sorted_intersect_size(array('ab','cd'), array('cd','zz')) AS i,
        |  vector_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d""".stripMargin).head()
    assert(row.getSeq[String](0) === Seq("abc", "bcd"))
    assert(row.getSeq[String](1) === Seq("the quick", "quick brown"))
    assert(row.getInt(2) === 1)
    assert(row.getDouble(3) === 11.0)
  }

  test("exact dedup: one hash shuffle on the key, map-side group-limit prunes first") {
    val plan = formatted("q7_dedup_docs_exact")
    val hashExchanges = "Arguments: hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges === 1, s"dedup must shuffle exactly once on the dedup key:\n$plan")
    // Spark 4 WindowGroupLimit: rows beyond rank 1 are dropped BEFORE
    // the shuffle — the property that makes skewed dedup keys survivable.
    assert(plan.contains("WindowGroupLimit"), "map-side partial group-limit expected")
  }

  test("knn query broadcasts the query side (corpus side never shuffles before scoring)") {
    val plan = formatted("q20_knn_bruteforce")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "query side must be broadcast")
  }

  test("cell-pruned pair join: allowlist broadcast + hash equi-join, data sides never cartesian") {
    val df = operators.Similarity.similarPairsApprox(
      Tables.embeddings(spark, dir), "vec_id", "embedding", t = 0.4)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the (row × allowlist) expansion is a broadcast of ≤ nCells² ints;
    // the corpus-vs-corpus candidate join must be a hash equi-join on
    // the cell id — at no point may the two DATA sides cross-join
    assert(plan.contains("BroadcastHashJoin"), s"allowlist must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"data sides must meet in an equi-join, not a cartesian:\n$plan")
    assert(plan.contains("SortMergeJoin") || "BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"candidate join must be key-based:\n$plan")
  }

  test("cosine pair join computes each vector's cell signature once per side") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val df = operators.Similarity.similarPairsApprox(
      Tables.embeddings(spark, dir), "vec_id", "embedding", t = 0.4)
    df.collect()
    val helper = new AdaptiveSparkPlanHelper {}
    def sigs(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.collect { case h: functions.HyperplaneSig => h }.size
    val nodes = helper.collect(df.queryExecution.executedPlan) { case p => p }
    val total = nodes.map(_.expressions.map(sigs).sum).sum
    val inFilters = nodes.collect { case f: FilterExec => sigs(f.condition) }.sum
    val plan = df.queryExecution.executedPlan.toString
    assert(inFilters === 0, s"no filter may re-evaluate the cell signature:\n$plan")
    assert(total === 2, s"one cell signature per verify side:\n$plan")
  }

  test("similarity kernel is the codegen'd vector_dot, inside a codegen stage") {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val df = emb.select(operators.Similarity.dot(col("embedding"), col("embedding")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("vector_dot"), s"kernel missing:\n$plan")
    assert(plan.startsWith("*"), "dot product must run inside WholeStageCodegen")
    assert(df.filter(col("d") > 0).count() > 0)
  }

  test("jaccard pair join: token equi-join + map-side pair count, never cartesian") {
    // the lazy plan of each route of the core (jaccardPairs itself
    // returns a materialized checkpoint scan)
    val sets = operators.Dedup.gramSets(Tables.documents(spark, dir), "doc_id", col("text"), 8)
    def routePlan(route: operators.Dedup.GramRoute): String =
      operators.Dedup.gramPairs(sets, None, 0.8, route).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    for (route <- Seq(operators.Dedup.GramRoute.Exact, operators.Dedup.GramRoute.Banded)) {
      val plan = routePlan(route)
      assert(!plan.contains("CartesianProduct"),
        s"$route pair enumeration must not cross-join the corpus:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$route pair enumeration must be key-based, not a nested loop:\n$plan")
    }
    val plan = routePlan(operators.Dedup.GramRoute.Exact)
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"token join must be an equi-join:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"pair count must partial-aggregate map-side (join-stage combine):\n$plan")
  }

  test("count join self form: one posting exchange, written once and read twice") {
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    // static at-scale shape, as in the reuse tests below: broadcast and
    // AQE off so the shuffle join and its exchange reuse are visible
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevT = spark.conf.get(thresholdKey)
    val prevA = spark.conf.get(aqeKey)
    val plan = try {
      spark.conf.set(thresholdKey, "-1")
      spark.conf.set(aqeKey, "false")
      val sets = operators.Dedup.gramSets(Tables.documents(spark, dir), "doc_id", col("text"), 8)
      operators.Dedup.gramPairs(sets, None, 0.8, operators.Dedup.GramRoute.Exact)
        .queryExecution.executedPlan
    } finally { spark.conf.set(thresholdKey, prevT); spark.conf.set(aqeKey, prevA) }
    val postingExchanges = plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.toString.contains("__gram") => e
    }
    assert(postingExchanges.size === 1, s"one posting exchange:\n$plan")
    assert(plan.collect { case r: ReusedExchangeExec => r }.nonEmpty,
      s"the second alias must read the reused exchange:\n$plan")
  }

  test("sorted-intersect kernel runs inside whole-stage codegen") {
    val df = Tables.documents(spark, dir)
      .select(sort_array(operators.Dedup.ngrams(col("text"), 3)).as("g"))
      .select(functions.text.expr2col(functions.SortedIntersectSize(
        functions.text.col2expr(col("g")), functions.text.col2expr(col("g")))).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("sorted_intersect_size"), s"kernel missing:\n$plan")
    assert(plan.startsWith("*"), "kernel must run inside WholeStageCodegen")
    assert(df.filter(col("n") > 0).count() > 0)
  }

  test("banded minhash dedup plan: equi-joins only, single-column dup-id anti join") {
    val df = operators.Dedup.minhashDedup(
      Tables.documents(spark, dir), "doc_id", col("text"),
      threshold = 0.5, numPerm = 64, bands = 16, shingleSize = 3)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct"), s"no cartesian anywhere:\n$plan")
    assert(plan.contains("LeftAnti"), s"removal must be a left_anti join:\n$plan")
  }

  test("decontamination plan: cross-corpus token equi-join, never a nested loop") {
    val plan = formatted("q49_decontaminate")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"no nested loop:\n$plan")
    assert(plan.contains("LeftAnti"), s"removal must be a left_anti join:\n$plan")
  }

  test("lshTopK: pair-dedup exchange and top-k window carry scalars, not embedding arrays") {
    val emb = Tables.embeddings(spark, dir)
    val df = operators.Similarity.lshTopK(
      emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3, bits = 4, tables = 2)
    val plan = df.queryExecution.optimizedPlan
    // every Exchange below the final window must shuffle rows WITHOUT
    // any array-typed attribute (the vectors stay upstream of the agg)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty, "collision-dedup aggregate expected")
    aggs.foreach { a =>
      val arrayCols = a.output.filter(_.dataType.typeName.startsWith("array"))
      assert(arrayCols.isEmpty,
        s"aggregate output must be scalar-only, got ${a.output.map(_.dataType)}")
    }
  }

  test("bm25 search: TakeOrdered cut, broadcast df/stats, no corpus-sized sort") {
    val plan = formatted("q54_bm25_search")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrderedAndProject, not a global Sort+Limit:\n$plan")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length +
      "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(broadcasts >= 2, s"df table and corpus stats must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("stratified split: a single stratum-partitioned window pair, no extra shuffles") {
    val df = operators.Split.stratified(
      Tables.documents(spark, dir), col("lang"), col("doc_id"))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // count detail entries ("(3) Exchange"), not tree-render lines —
    // each physical Exchange appears once in each form
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected exactly one hash exchange on the stratum:\n$plan")
  }

  test("under-split sources are spread before expensive narrow maps (round-3 regression)") {
    // a 1-partition frame (the single-row-group parquet trap) must be
    // repartitioned up to the session's parallelism before signature /
    // featurization maps — otherwise they run on one core
    val one = Tables.documents(spark, dir).coalesce(1)
    val spread = operators.Dedup.spreadWide(one)
    val par = spark.sparkContext.defaultParallelism
    assert(one.rdd.getNumPartitions === 1)
    assert(spread.rdd.getNumPartitions === par, "spreadWide must lift to default parallelism")
    // already-wide inputs pass through untouched (no extra shuffle)
    val wide = Tables.documents(spark, dir).repartition(par)
    assert(operators.Dedup.spreadWide(wide).rdd.getNumPartitions === par)
  }

  test("banded minhash self-join reuses the signature shuffle (round-3 regression)") {
    // assert on the lazy CANDIDATE plan — minhashDedup itself
    // checkpoints the dup-id set eagerly, so its returned anti-join no
    // longer contains the candidate subtree
    // at fixture scale the bucket join broadcasts (nothing to reuse) —
    // disable broadcast to capture the AT-SCALE shuffle-join shape;
    // disable AQE so static ReuseExchange planning is visible (under
    // AQE the same reuse happens at runtime stage level instead)
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevT = spark.conf.get(thresholdKey)
    val prevA = spark.conf.get(aqeKey)
    val plan = try {
      spark.conf.set(thresholdKey, "-1")
      spark.conf.set(aqeKey, "false")
      operators.Dedup.minhashCandidates(
        Tables.documents(spark, dir), "doc_id", col("text"),
        threshold = 0.5, numPerm = 128, bands = 32, shingleSize = 3, maxBucketSize = 1024)
        .queryExecution.executedPlan.toString
    } finally { spark.conf.set(thresholdKey, prevT); spark.conf.set(aqeKey, prevA) }
    assert(plan.contains("ReusedExchange"),
      s"the ids-only (band,bucket) shuffle must be written once and read twice:\n$plan")
  }

  test("semanticDedup: cell self-join reuses one exchange, never cartesians") {
    // same at-scale capture as the banded-minhash reuse test: kill
    // broadcast + AQE so the static shuffle-join shape is visible
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevT = spark.conf.get(thresholdKey)
    val prevA = spark.conf.get(aqeKey)
    val plan = try {
      spark.conf.set(thresholdKey, "-1")
      spark.conf.set(aqeKey, "false")
      operators.Dedup.semanticDedup(
        Tables.embeddings(spark, dir), "vec_id", "embedding", eps = 0.6, nCells = 8)
        .queryExecution.executedPlan.toString
    } finally { spark.conf.set(thresholdKey, prevT); spark.conf.set(aqeKey, prevA) }
    assert(plan.contains("ReusedExchange"),
      s"the cell-keyed shuffle must be written once and read twice:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      s"semanticDedup must stay an equi-join:\n$plan")
  }

  test("weightedSample plans a TakeOrderedAndProject, never a global sort") {
    val docs = Tables.documents(spark, dir)
    val plan = operators.Split.weightedSample(docs, col("doc_id"),
        col("n_chars"), k = 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition + one k-row merge:\n$plan")
  }

  test("chunkConcat stays join-free: one stratum window plus a bounded explode") {
    val plan = formatted("q122_chunk_concat")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"chunkConcat must not join:\n$plan")
    assert(plan.contains("Window") && plan.contains("Generate"),
      s"expected window + explode:\n$plan")
  }

  test("semanticDecontaminate: broadcast eval side, corpus never cartesians") {
    val plan = formatted("q116_semantic_decontaminate")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cell equi-join required:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the benchmark-sized eval side must broadcast:\n$plan")
  }

  test("q125: NB training shuffles the token counts once (totals via ReusedExchange), no cartesian") {
    // the at-scale capture: kill broadcast + AQE so the static
    // shuffle-join shape is visible (same stance as the minhash/
    // semanticDedup reuse tests)
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevT = spark.conf.get(thresholdKey)
    val prevA = spark.conf.get(aqeKey)
    val plan = try {
      spark.conf.set(thresholdKey, "-1")
      spark.conf.set(aqeKey, "false")
      operators.Classifier.nbQualityScore(
        Tables.documents(spark, dir), "doc_id", col("text"),
        col("n_chars") >= 300)
        .queryExecution.executedPlan.toString
    } finally { spark.conf.set(thresholdKey, prevT); spark.conf.set(aqeKey, prevA) }
    assert(plan.contains("ReusedExchange"),
      s"class totals must read the token-count shuffle back, not recount the corpus:\n$plan")
    // the only non-equi joins allowed are the one-row broadcast-totals
    // attachments; the token and id joins must stay hash/merge equi-joins
    assert(!plan.contains("CartesianProduct"),
      s"single-row totals must attach by broadcast, never cartesian:\n$plan")
  }

  test("q128: stratified NB keeps the q125 plan shape — reused token shuffle, no cartesian") {
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevT = spark.conf.get(thresholdKey)
    val prevA = spark.conf.get(aqeKey)
    val plan = try {
      spark.conf.set(thresholdKey, "-1")
      spark.conf.set(aqeKey, "false")
      operators.Classifier.nbQualityScoreStratified(
        Tables.documents(spark, dir), "doc_id", col("lang"), col("text"),
        col("n_chars") >= 300)
        .queryExecution.executedPlan.toString
    } finally { spark.conf.set(thresholdKey, prevT); spark.conf.set(aqeKey, prevA) }
    assert(plan.contains("ReusedExchange"),
      s"per-stratum totals must read the (stratum, token) shuffle back:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the null-safe stratum joins must stay hash/merge joins:\n$plan")
  }
}
