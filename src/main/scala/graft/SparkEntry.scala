package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{analysis, text}
import graft.operators.{Classifier, Dedup, DupClusters, Images, Incremental, Retrieval, Similarity, Skew, Split, Stats, Winnow}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 gets a `queries` entry;
  * each SQL-expressible one also gets a DuckDB oracle in `oracleSql`.
  * Column names are aliased identically on both sides (the driver's
  * compare sorts columns by name before hashing). Doubles are rounded
  * on both sides so float summation order can't flip the hash; DuckDB
  * HUGEINT sums are cast back to BIGINT to match Spark's LongType.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q31_unify_pipeline")(spark, "/root/testdata/sf0.001")

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)

  /** Deterministic per-sfDir scratch directory for seeded-state
    * exports: engine-computed keyings (hyperplane cells, banded MinHash
    * buckets) that DuckDB cannot replay are materialized here as
    * parquet, and the oracle replays the SQL-EXPRESSIBLE part of the
    * operator (the within-cell cosine dedup, the bucket-collision
    * agreement filter) over them — the q74 hash-stability trick
    * extended to seeded state. [[Verify]] substitutes the literal
    * `__GRAFT_STATE_DIR__` token in [[oracleSql]] with this path at
    * dump time, so the engine run and the oracle compare always read
    * the same run's state (bench runs at other SFs hash to a different
    * directory and can't clobber it). */
  def stateDir(dir: String): String = {
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_state_${Integer.toHexString(dir.hashCode)}")
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- A1/A9: grouped aggregation over the fact table (TPC-H Q1 shape).
    "q1_pricing_summary" -> { (s, dir) =>
      li(s, dir)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          (round(sum(col("l_quantity")), 2) / count(lit(1))).as("avg_qty"),
          (round(sum(col("l_discount")), 2) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- J1: star equi-join chain; small dims broadcast. Revenue per nation.
    "q2_revenue_by_nation" -> { (s, dir) =>
      val rev = li(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      rev.groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    },

    // ---- A7+J1: top-10 customers by order value (top-k with tie-break).
    "q3_top_customers" -> { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice")), 2).as("total_spent"),
          count(lit(1)).as("n_orders"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("total_spent"), col("n_orders"))
        .orderBy(desc("total_spent"), asc("c_custkey"))
        .limit(10)
    },

    // ---- A9+W1: daily aggregate + 7-day moving average (frame spec).
    // avg is expressed as round(sum,2)/n: the rounded sum is an exact
    // 0.01-multiple, so both engines divide bit-identical doubles —
    // rounding an average directly can land exactly on a half-boundary
    // where Spark (BigDecimal shortest-repr HALF_UP) and other engines
    // (binary-value rounding) legitimately disagree.
    "q4_events_daily_ma" -> { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg((round(sum(col("value")), 2) / count(lit(1))).as("avg_value"),
          count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day")).rowsBetween(-6, 0)
      daily.withColumn("ma7", avg(col("avg_value")).over(w))
        .withColumn("day", col("day").cast("string"))
        .orderBy(col("event_type"), col("day"))
    },

    // ---- W2: LAG trend classification over the daily series.
    "q5_events_lag_trend" -> { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg((round(sum(col("value")), 2) / count(lit(1))).as("avg_value"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily
        .withColumn("prev_value", lag(col("avg_value"), 1).over(w))
        .withColumn("trend",
          when(col("prev_value").isNull, lit("init"))
            .when(col("avg_value") > col("prev_value") * 1.05, lit("up"))
            .when(col("avg_value") < col("prev_value") * 0.95, lit("down"))
            .otherwise(lit("stable")))
        .withColumn("day", col("day").cast("string"))
        .orderBy(col("event_type"), col("day"))
    },

    // ---- J6/W4: latest event per user (correlated-subquery shape as window).
    "q6_latest_event_per_user" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(desc("ts"), desc("event_id"))
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"),
          round(col("value"), 2).as("value"))
        .orderBy(col("user_id"))
    },

    // ---- D1: exact dedup on normalized text key, deterministic keep-min-id.
    "q7_dedup_docs_exact" -> { (s, dir) =>
      Dedup.keepBestWindow(Tables.documents(s, dir), Dedup.compositeKey(Seq("text")), Seq(asc("doc_id")))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // ---- D3/D7: best-record per group (argmax by length then id).
    "q8_dedup_best_per_group" -> { (s, dir) =>
      Dedup.keepBest(Tables.documents(s, dir), Dedup.compositeKey(Seq("lang", "source")),
          Seq(col("n_chars"), col("doc_id")))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("lang", "source")
    },

    // ---- D8: duplicate statistics without removal.
    "q9_dup_stats" -> { (s, dir) =>
      Dedup.duplicateStats(Tables.documents(s, dir), Seq("text"))
    },

    // ---- A2: null count/rate per column, single pass.
    "q10_null_stats" -> { (s, dir) =>
      Stats.nullStats(Tables.documents(s, dir), Seq("text", "lang", "source"))
        .orderBy("column_name")
    },

    // ---- A4: length distribution stats per language.
    "q11_length_stats" -> { (s, dir) =>
      Stats.lengthStats(Tables.documents(s, dir), col("text"), Seq(col("lang")))
        .orderBy("lang")
    },

    // ---- A5: type-token ratio (exact).
    "q12_ttr" -> { (s, dir) =>
      Stats.typeTokenRatio(Tables.documents(s, dir), col("text"))
    },

    // ---- A6: special-char counting via translate-delete.
    "q13_char_stats" -> { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          sum(Stats.charCount(col("text"), "aeiou")).as("vowel_count"),
          sum(Stats.charCount(col("text"), " ")).as("space_count"),
          max(when(col("text").contains("spark"), 1).otherwise(0)).as("has_spark"))
        .orderBy("lang")
    },

    // ---- A10: conditional pivot counts per day.
    "q14_event_pivot" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).cast("string").as("day"))
        .agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"),
          sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("signups"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errors"),
          count(lit(1)).as("total"))
        .orderBy("day")
    },

    // ---- A11: guarded ratio with NULLIF semantics.
    "q15_value_ratio" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg((lit(100.0) * sum(when(col("value") > 50, 1L).otherwise(0L)) /
          nullif(count(lit(1)), lit(0L))).as("pct_high_value"))
        .orderBy("event_type")
    },

    // ---- O4: deterministic seeded split. The uniform is xxhash64-
    // seeded (no DuckDB analog), so the query EXPORTS (doc_id, u) and
    // the oracle independently replays the threshold labelling +
    // grouping over it — the split arithmetic is what's under test,
    // the hash is pinned by PropertySpec/SplitSpec.
    "q16_seeded_split" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      docs.select(col("doc_id"),
          Split.uniform(Dedup.compositeKey(Seq("doc_id"))).as("u"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q16_u")
      Split.split(docs, Seq("doc_id"))
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
        .orderBy("split")
    },

    // ---- P7/J-semi: customers with at least one order.
    "q17_customers_with_orders" -> { (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },

    // ---- J3: anti-join (customers with no finalized orders).
    "q18_customers_without_orders" -> { (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },
    // ---- D5/J2/J3: MinHash-LSH fuzzy dedup (spark.ml formulation).
    // The model's seeded per-table hash values and the HashingTF
    // feature-index sets are EXPORTED (the fit is seed-deterministic
    // and data-independent, so the exported model state is exactly the
    // operator's); the oracle replays approxSimilarityJoin's public
    // contract — OR-amplified (table, hash)-collision candidates,
    // exact index-set Jaccard-distance verify strictly below the
    // threshold — plus the keep-lowest-id anti-join. Feature indices
    // come from the TRANSFORMED vectors themselves (ml's term hash is
    // NOT SQL hash() — a replication attempt diverged on real terms),
    // so the export is the model's feature set by construction.
    "q19_fuzzy_dedup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val tokens = Dedup.spreadWide(docs)
        .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("__tokens"))
        .filter(size(col("__tokens")) > 0)
      val tf = new org.apache.spark.ml.feature.HashingTF()
        .setInputCol("__tokens").setOutputCol("__features")
        .setNumFeatures(1 << 14)
      // cache across BOTH exports: the HOF tokenize is the expensive
      // map (interpreted lambda chain), and each export write would
      // otherwise re-run it from scratch
      val featured = tf.transform(tokens)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        featured.count() // eager, so the two export writes read blocks
        val model = new org.apache.spark.ml.feature.MinHashLSH()
          .setInputCol("__features").setOutputCol("__hashes")
          .setNumHashTables(5).setSeed(42L)
          .fit(featured)
        model.transform(featured)
          .select(col("doc_id"), posexplode(col("__hashes")).as(Seq("t", "__h")))
          .select(col("doc_id"), col("t"),
            org.apache.spark.ml.functions.vector_to_array(col("__h"))
              .getItem(0).as("h"))
          .write.mode("overwrite").parquet(s"${stateDir(dir)}/q19_hashes")
        // index sets via the native HashingTfIndices kernel (pinned
        // against ml's indexOf in DedupSpec) — extracting them from the
        // transformed vectors costs a 16k-wide dense explode per doc
        featured.select(col("doc_id"),
            explode(text.expr2col(graft.functions.HashingTfIndices(
              text.col2expr(col("__tokens")), 1 << 14))).as("idx"))
          .write.mode("overwrite").parquet(s"${stateDir(dir)}/q19_feats")
        // the operator itself runs FROM the same cached featurized
        // frame — one shingle+hash pass serves exports and dedup
        Dedup.fuzzyDedupFromFeatured(docs, "doc_id", featured, threshold = 0.5)
          .select("doc_id").orderBy("doc_id")
      } finally featured.unpersist(blocking = false)
    },

    // ---- J4: exact kNN over embeddings (brute-force cosine + window top-k).
    "q20_knn_bruteforce" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        .withColumn("embedding", col("embedding").cast("array<double>"))
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },

    // ---- J4-threshold: all similar pairs above cosine threshold.
    "q21_similar_pairs" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        .withColumn("embedding", col("embedding").cast("array<double>"))
        .filter(col("vec_id") < 100)
      Similarity.similarPairs(emb, "vec_id", "embedding", t = 0.25)
        .orderBy("id_a", "id_b")
    },

    // ---- Text analysis: token counting (whitespace + BPE-ish estimate).
    "q22_token_stats" -> { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          sum(analysis.token_count(col("text"))).as("total_tokens"),
          sum(analysis.token_count_bpe(col("text"))).as("total_bpe_tokens"),
          round(avg(analysis.mean_word_length(col("text"))), 4).as("avg_word_len"))
        .orderBy("lang")
    },

    // ---- Text analysis: composite quality score per language. The
    // score (~6 regexp passes) is projected ONCE per row, then
    // aggregated twice — not re-evaluated inside each aggregate.
    "q23_quality_score" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), analysis.quality_score(col("text")).as("__q"))
        .groupBy(col("lang"))
        .agg(
          round(avg(col("__q")), 4).as("avg_quality"),
          sum(when(col("__q") >= 0.8, 1L).otherwise(0L)).as("high_quality_docs"))
        .orderBy("lang")
    },

    // ---- Text analysis: content fingerprint (md5 over normalized tokens).
    "q24_fingerprint" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(concat_ws(" ",
            filter(split(lower(trim(col("text"))), "\\s+"), t => length(t) > 0))).as("fp"))
        .orderBy("doc_id")
    },

    // ---- F1/F7: NFC normalization (custom Catalyst expr) + whitespace collapse.
    "q25_normalize_nfc" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), text.collapse_ws(text.unicode_nfc(col("text"))).as("norm_text"))
        .orderBy("doc_id")
    },

    // ---- [E] A-family: ROLLUP aggregate (free generalization of trend views).
    "q26_orders_rollup" -> { (s, dir) =>
      Tables.orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy("status", "priority")
    },

    // ---- W-family: sessionization (30-min gap) via lag + running sum.
    "q27_sessionize" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev_s", lag(unix_timestamp(col("ts")), 1).over(w))
        .withColumn("new_session",
          when(col("prev_s").isNull || unix_timestamp(col("ts")) - col("prev_s") > 1800, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },

    // ---- F17: JSON field extraction from the events props column.
    "q28_events_json" -> { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), round(avg(col("k")), 4).as("avg_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // ---- Near-dup: SimHash signature-equality dedup. The signature is
    // xxhash64-seeded → EXPORTED; the oracle replays the keep-lowest-id
    // per-signature window over the exported (doc_id, sig).
    "q29_simhash_dedup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      docs.select(col("doc_id"), Dedup.simhashSignature(col("text")).as("sig"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q29_sigs")
      Dedup.simhashDedup(docs, "doc_id", col("text"))
        .select("doc_id").orderBy("doc_id")
    },

    // ---- §3.1 flagship: the whole unify pipeline as one Catalyst plan —
    // synthesize a multilingual corpus from documents, normalize (NFC +
    // whitespace), validity-filter, dedup keep-best with layer priority.
    "q31_unify_pipeline" -> { (s, dir) =>
      val corpus = Tables.documents(s, dir).select(
        col("text").as("es"),
        when(col("lang").isin("es", "de"), col("text")).as("nah"),
        when(col("lang") === "zh", col("text")).as("myn"),
        col("source"),
        when(col("doc_id") % 3 === 0, lit("diamond")).otherwise(lit("silver")).as("layer"),
        lit("documents.parquet").as("origin_file"))
      val valid = sources.CorpusIO.validityFilter(UnifyPipeline.normalize(corpus))
      UnifyPipeline.dedupBest(valid)
        .groupBy(col("layer"))
        .agg(count(lit(1)).as("n"), count(col("nah")).as("nah_n"), count(col("myn")).as("myn_n"))
        .orderBy("layer")
    },

    // ---- Near-dup: character-3-gram Jaccard on candidate pairs.
    // Gram sets are computed once per document (O(n)), the pair join
    // only intersects the precomputed sets (HOFs are interpreted, so
    // per-pair recomputation would cost O(n²) interpreted evals).
    "q30_ngram_jaccard" -> { (s, dir) =>
      val g = Tables.documents(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"), Dedup.charNGrams(col("text"), 3).as("grams"))
      val a = g.select(col("doc_id").as("id_a"), col("grams").as("ga"))
      val b = g.select(col("doc_id").as("id_b"), col("grams").as("gb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("jaccard", round(Dedup.jaccardOfSets(col("ga"), col("gb")), 6))
        .filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    },
    // ---- §2.10: tumbling-window aggregate (same code path as the
    // streaming job; batch here so the oracle can check it).
    "q32_windowed_agg" -> { (s, dir) =>
      streaming.StreamOps.windowedAgg(Tables.events(s, dir), "1 day")
        .select(col("window_start").cast("date").cast("string").as("day"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("day", "event_type")
    },

    // ---- §2.10: session windows (native session_window operator).
    "q33_session_windows" -> { (s, dir) =>
      streaming.StreamOps.sessionAgg(Tables.events(s, dir), "30 minutes")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("max_session_events"),
          sum(col("n_events")).as("n_events"))
        .orderBy("user_id")
    },
    // ---- D5-scale: banded MinHash LSH dedup (shingle → minhash →
    // band → bucket-join; AND-amplified, native signature expression).
    "q37_minhash_band_dedup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // the seeded MinHash signatures are the exported state; the
      // oracle replays band-slice-equality candidate generation (equal
      // slices ⇔ equal xxhash64 buckets, modulo 2⁻⁶⁴ collisions) + the
      // agreement-fraction ≥ threshold verify + the anti-join. The
      // operator then runs FROM the exported table read back (one
      // signature pass total — the recurring-ingestion shape), so
      // export and dedup can never disagree on the signatures.
      Dedup.minhashSignatures(docs, "doc_id", col("text"),
          numPerm = 128, shingleSize = 3)
        .withColumnRenamed("__sig", "sig")
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q37_sigs")
      // maxBucketSize UNCAPPED here: the SQL oracle enumerates every
      // band-slice-equal pair, while the default 1024 cap switches
      // oversized buckets to the star pattern (which may legally keep
      // a mixed-bucket member the full enumeration drops). The
      // default stays capped; the oracle query must match the replay
      // exactly at any SF.
      Dedup.minhashDedupFromSigs(docs, "doc_id",
          s.read.parquet(s"${stateDir(dir)}/q37_sigs")
            .withColumnRenamed("sig", "__sig"),
          threshold = 0.5, numPerm = 128, bands = 32,
          maxBucketSize = Int.MaxValue)
        .select("doc_id").orderBy("doc_id")
    },

    // ---- Multimodal plumbing through the gate: text bytes as opaque
    // binary payloads → typed batch decode (stub codec) → features.
    // n_bytes flows through the mapPartitions decode path executor-side
    // and is oracle-checked; feature values are stub-specific (rows-only
    // assertions live in MultimodalSpec).
    "q38_multimodal_features" -> { (s, dir) =>
      import s.implicits._
      val media = Tables.documents(s, dir).select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"),
        struct(lit("image").as("media_type"), lit("raw").as("format"),
          lit(0).as("width"), lit(0).as("height"),
          lit(0L).as("duration_ms"), lit(0).as("sample_rate")).as("meta"))
        .as[operators.Multimodal.MediaRow]
      operators.Multimodal.extractFeatures(media, dim = 16)
        .select(col("media_id").as("doc_id"), col("n_bytes"))
        .orderBy("doc_id")
    },

    // ---- D4: column-subset distinct (deduplicated key set).
    "q39_distinct_subset" -> { (s, dir) =>
      Tables.documents(s, dir).select("lang", "source").distinct()
        .orderBy("lang", "source")
    },

    // ---- O6: deterministic audit sample — hash-ordered limit is
    // reproducible on any cluster shape (unlike df.sample's
    // partition-dependent RNG) and oracle-checkable.
    "q40_audit_sample" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .limit(20)
    },

    // ---- J5: enrichment left join (unmatched rows keep nulls → 0).
    "q34_enrichment_left_join" -> { (s, dir) =>
      val bigOrders = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 400000)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("big_orders"), round(sum(col("o_totalprice")), 2).as("big_total"))
      Tables.customer(s, dir)
        .join(bigOrders, Seq("c_custkey"), "left")
        .select(col("c_custkey"), col("c_mktsegment"),
          coalesce(col("big_orders"), lit(0L)).as("big_orders"),
          coalesce(col("big_total"), lit(0.0)).as("big_total"))
        .orderBy("c_custkey")
    },

    // ---- F13: sentence segmentation (generator shape: explode(split)),
    // pysbd-grade: the planted suffix carries every protection class —
    // title abbreviations (Sr./Dra. before capitalized names), p. ej.,
    // a general abbreviation continuing lowercase (etc. así), a
    // decimal, an ellipsis continuing lowercase, and a run of initials
    // (J. R. R.) that only the two-pass shield segments right. The
    // oracle replays the exact regexp_replace chain in DuckDB.
    "q35_sentence_split" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(analysis.sentences_of(
          concat(col("text"), lit(" El Sr. López y la Dra. Ruiz, " +
            "p. ej. etc. así 3.14 sigue... baja. J. R. R. Tolkien " +
            "escribió. Fin one. two! three? four. Vive en EE. UU. " +
            "desde 1990 en el Blvd. Reforma. Nació en 44 a. C. aprox. " +
            "el 1.º de mayo. N.º 12, vol. 3 sigue. El 5 dic. de 2020 " +
            "llegó. FF. AA. listas")))).as("sentence"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sentences"),
          max(length(col("sentence"))).as("max_sentence_len"))
        .orderBy("doc_id")
    },

    // ---- F10: heuristic language identification distribution.
    "q36_lang_id" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(coalesce(text.detect_lang(col("text")), lit("unknown")).as("detected"))
        .groupBy(col("detected")).agg(count(lit(1)).as("n"))
        .orderBy("detected")
    },

    // ---- J4-threshold at scale: FULL-table similar pairs through the
    // cell-pruned candidate join (hyperplane-signature cells +
    // triangle-inequality pruning, exact verify) — output provably
    // equals the exact cross join, so the all-pairs DuckDB oracle
    // hash-checks it.
    "q41_similar_pairs_full" -> { (s, dir) =>
      Similarity.similarPairsApprox(Tables.embeddings(s, dir), "vec_id", "embedding",
          t = 0.4)
        .orderBy("id_a", "id_b")
    },

    // ---- Embedding-cosine near-dup removal over the full table via the
    // same pruned candidate path (Dedup.embeddingDedup default).
    "q42_embedding_dedup" -> { (s, dir) =>
      Dedup.embeddingDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
          threshold = 0.4)
        .select("vec_id").orderBy("vec_id")
    },

    // ---- SemDeDup semantic thinning: within-bucket-only comparisons
    // (the paper's scale contract — recall bounded by cluster
    // locality, cost strictly Σ|cell|²). Bucketing is seeded-
    // hyperplane, not SQL-expressible — so the query EXPORTS the cell
    // assignment (cell, vec_id, vec) to the state dir and the oracle
    // replays the SQL-expressible part (within-cell keep-lowest-id
    // cosine dedup) over it; SimilaritySpec pins the geometry of the
    // cell assignment itself. nCells is computed once here and passed
    // explicitly so export and operator can never disagree.
    "q102_semantic_dedup" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val vd = col("embedding").cast("array<double>")
      val clean = emb.filter(Dedup.semanticComparable(vd))
        .select(col("vec_id"), vd.as("vec"))
      val nCells = Dedup.semanticCells(clean.count())
      clean.select(Dedup.semanticCell(col("vec"), nCells, 42L).as("cell"),
          col("vec_id"), col("vec"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q102_cells")
      Dedup.semanticDedup(emb, "vec_id", "embedding", eps = 0.6, nCells = nCells)
        .select("vec_id").orderBy("vec_id")
    },

    // ---- Curriculum / data-blending order: the n^α-weighted fair
    // interleave that decides what ORDER the loader consumes the
    // mixture in (sampling decided what's IN it — q84/q93). Pure
    // window arithmetic, so the oracle replays it exactly.
    "q103_curriculum_interleave" -> { (s, dir) =>
      // the operator emits full-precision positions; round at the
      // comparison surface only (both engines round identically)
      Split.interleaveStrata(Tables.documents(s, dir),
          strata = col("lang"), key = col("doc_id"), alpha = 0.5)
        .select(col("doc_id"), col("lang"), col("mix_rank"),
          round(col("mix_pos"), 6).as("mix_pos"))
        .orderBy("mix_pos", "doc_id")
    },

    // ---- Dedup report card: the cluster-structure summary behind a
    // removal decision (how much is removable, how big is the worst
    // clique) — q47's component closure aggregated to one audit row.
    "q104_cluster_stats" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val pairs = Similarity.similarPairsApprox(emb, "vec_id", "embedding", t = 0.4)
      DupClusters.clusterStats(
        DupClusters.connectedComponents(emb.select(col("vec_id")), pairs))
    },

    // ---- §1.1 category + nested RecordMetadata: the struct flows
    // through normalize → validity filter → dedup, then the aggregate
    // groups on a nested field. The dedup ordering ends in record_id so
    // the surviving row's metadata is deterministic (oracle-checkable).
    "q43_metadata_unify" -> { (s, dir) =>
      val corpus = Tables.documents(s, dir).select(
        col("text").as("es"),
        when(col("lang").isin("es", "de"), col("text")).as("nah"),
        when(col("lang") === "zh", col("text")).as("myn"),
        col("source"),
        when(col("doc_id") % 3 === 0, lit("diamond")).otherwise(lit("silver")).as("layer"),
        lit("documents.parquet").as("origin_file"),
        col("source").as("category"),
        struct(
          col("doc_id").cast("string").as("record_id"),
          to_timestamp(lit("2026-01-01 00:00:00")).as("created_at"),
          when(col("lang") === "es", lit("central")).otherwise(lit("classical")).as("dialect"),
          ((col("doc_id") % 5).cast("double") / lit(4.0)).as("quality_score"),
          (col("doc_id") % 2 === 0).as("is_validated")).as("metadata"))
      val valid = sources.CorpusIO.validityFilter(UnifyPipeline.normalize(corpus))
      val completeness = col("es").isNotNull.cast("int") +
        col("nah").isNotNull.cast("int") + col("myn").isNotNull.cast("int")
      val totalLen = coalesce(length(col("es")), lit(0)) +
        coalesce(length(col("nah")), lit(0)) + coalesce(length(col("myn")), lit(0))
      Dedup.keepBestWindow(valid,
          text.dedup_key(col("es"), col("nah"), col("myn")),
          Seq(UnifyPipeline.layerRank(col("layer")).desc, completeness.desc,
            totalLen.desc, col("metadata.record_id").asc))
        .groupBy(col("category"), col("metadata.dialect").as("dialect"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("metadata.quality_score")), 2).as("total_quality"),
          sum(col("metadata.is_validated").cast("long")).as("validated_n"))
        .orderBy("category", "dialect")
    },

    // ---- Near-dup at scale: FULL-table n-gram Jaccard pairs through
    // the guarded core — tokenize the gram sets once, probe Σdf², then
    // either the exact count-based token join (explode, equi-join on
    // the gram, COUNT(*) per pair = |A∩B|; output provably equals the
    // brute-force pair enumeration) or, past 8192 joined rows per doc,
    // banded-MinHash candidates with the same exact verify. Never a
    // cross join; the all-pairs DuckDB oracle hash-checks either route.
    // 8-char shingles keep the gram vocabulary from saturating (vs
    // n=3), yet at sf0.1 the probe still routes banded: Σdf² =
    // 560,913,038 over 5,000 docs against a 40,960,000-row budget.
    "q45_ngram_pairs_full" -> { (s, dir) =>
      Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", col("text"),
          t = 0.8, n = 8)
        .orderBy("id_a", "id_b")
    },

    // ---- Guardrailed n-gram dedup: q45's pairs (same corpus, t and
    // n, so the same probe decision) feeding a left_anti removal of
    // every higher-id member — the brute-force DuckDB oracle
    // hash-checks the guarded path end-to-end THROUGH the routing
    // decision.
    "q97_ngram_dedup_guarded" -> { (s, dir) =>
      Dedup.ngramDedup(Tables.documents(s, dir), "doc_id", col("text"),
          t = 0.8, n = 8)
        .select(col("doc_id"))
        .orderBy("doc_id")
    },

    // ---- Embedding storage path: symmetric int8 quantization
    // (4× smaller vectors for the 100 TB embedding corpus) — per-vector
    // scale, max reconstruction error, and original-vs-dequantized
    // cosine, all oracle-checked.
    "q46_embedding_quantize" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val qz = e.withColumn("__qz", Similarity.quantizeInt8(col("v")))
      val dq = Similarity.dequantizeInt8(col("__qz.q"), col("__qz.scale"))
      qz.select(col("vec_id"),
          round(col("__qz.scale"), 9).as("scale"),
          round(array_max(zip_with(col("v"), dq, (a, b) => abs(a - b))), 9).as("max_err"),
          round(Similarity.cosine(col("v"), dq), 6).as("cos_sim"))
        .orderBy("vec_id")
    },

    // ---- Dup-cluster resolution: connected components of the
    // full-table embedding-similarity pair graph (exact pairs via the
    // cell-pruned join), every vector labeled with its cluster's
    // canonical (minimum) id. The DuckDB oracle recomputes the same
    // closure with a recursive CTE, so the iterative min-label
    // propagation is hash-checked end-to-end.
    "q47_dup_clusters" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val pairs = Similarity.similarPairsApprox(emb, "vec_id", "embedding",
        t = 0.4)
      DupClusters.connectedComponents(emb.select(col("vec_id")), pairs)
        .select(col("id").as("vec_id"), col("cluster").as("cluster_id"))
        .orderBy("vec_id")
    },

    // ---- Cluster-aware dedup: keep the BEST member of each near-dup
    // cluster (max label, ties to the lowest id) instead of the
    // pair-local drop-higher-id policy — the chain a~b~c keeps exactly
    // one row even though (a,c) was never an enumerated pair.
    "q48_cluster_dedup" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val pairs = Similarity.similarPairsApprox(emb, "vec_id", "embedding",
        t = 0.4)
      DupClusters.clusterDedup(emb, "vec_id", pairs,
          Seq(col("label"), -col("vec_id")))
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    },

    // ---- A9 extension: grouping-sets trend rollup — per (type, day)
    // counts plus per-type subtotals plus the grand total in ONE
    // aggregation pass (Catalyst expands the grouping sets; no
    // re-scan per level, unlike the reference's separate trend
    // queries). NULL group markers hash-match DuckDB's ROLLUP.
    "q53_event_rollup" -> { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
        .rollup(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .withColumn("day", col("day").cast("string"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))
    },

    // ---- As-of (temporal) join: each click enriched with the user's
    // most recent prior-or-same-instant purchase — the union+window
    // formulation (one shuffle, linear cost, no range-join explosion),
    // hash-checked against DuckDB's NATIVE ASOF LEFT JOIN.
    "q52_asof_enrich" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pvalue"))
        .withColumn("pts", unix_micros(col("ts")))
      operators.AsOf.asofJoin(clicks, purchases, Seq("user_id"), "ts", Seq("pvalue", "pts"))
        .select(col("user_id"), col("event_id"),
          round(col("asof_pvalue"), 2).as("prev_purchase_value"),
          col("asof_pts").as("prev_purchase_ts"))
        .orderBy("user_id", "event_id")
    },

    // ---- Quantized-path kNN: the whole first-pass search runs on
    // int8 vectors through the byte-dot kernel (scales cancel in the
    // quantized cosine — no dequantize anywhere). Deterministic given
    // the quantization, so the DuckDB oracle hash-checks it end to end.
    "q51_quantized_knn" -> { (s, dir) =>
      val qz = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          Similarity.quantizeInt8(col("embedding").cast("array<double>"))("q").as("q8"))
      Similarity.quantizedTopK(qz, qz.filter(col("vec_id") < 10), "vec_id", "q8", k = 5)
        .orderBy("query_id", "rank")
    },

    // ---- Stratified exact-count split: per-language proportions are
    // exact to ±1 row and the md5 rank order is engine-independent, so
    // the full (lang, split) count matrix hash-checks against DuckDB —
    // unlike the xxhash-threshold q16, which is rows-only by nature.
    "q50_stratified_split" -> { (s, dir) =>
      Split.stratified(Tables.documents(s, dir),
          col("lang"), col("doc_id"), seed = 42L)
        .groupBy(col("lang"), col("split")).agg(count(lit(1)).as("n_rows"))
        .orderBy("lang", "split")
    },

    // ---- Decontamination: scrub an eval split of documents that leak
    // from the training split (≥ t bipartite n-gram Jaccard against ANY
    // train doc) — the guarded bipartite join (exact count join or
    // banded candidates + exact verify), so the brute-force DuckDB
    // cross-corpus oracle hash-checks it.
    "q49_decontaminate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val eval = docs.filter(col("doc_id") % 10 === 0)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      Dedup.decontaminate(eval, "doc_id", col("text"),
          train, "doc_id", col("text"), t = 0.8, n = 8)
        .select("doc_id").orderBy("doc_id")
    },

    // ---- Eval-side leak report: q49's complement — per EVAL doc, how
    // many training docs it fuzzily leaks into (count, zeros kept).
    // The artifact an eval-set owner reviews before trusting numbers.
    // Eval here is 10% of the corpus — exactly the oversized-reference
    // shape an unguarded bipartite join detonates on at scale — and
    // jaccardJoin's Σ dfL·dfR probe keeps the exact count join while
    // it fits and swaps in banded-MinHash candidates + exact verify
    // past the budget.
    "q105_leak_report" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val eval = docs.filter(col("doc_id") % 10 === 0)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val hits = Dedup.jaccardJoin(eval, "doc_id", col("text"),
          train, "doc_id", col("text"), t = 0.8, n = 8)
        .groupBy(col("id_a").as("doc_id")).agg(count(lit(1)).as("n_leaks"))
      eval.select("doc_id").join(hits, Seq("doc_id"), "left")
        .withColumn("n_leaks", coalesce(col("n_leaks"), lit(0L)))
        .withColumn("leaked", col("n_leaks") > 0)
        .orderBy("doc_id")
    },

    // ---- Skew diagnostics: one-row report on a prospective shuffle
    // key (max/avg key mass = straggler-partition risk). One hash
    // shuffle with map-side partial agg, scalar output.
    "q55_skew_report" -> { (s, dir) =>
      Skew.keySkewReport(Tables.lineitem(s, dir), col("l_orderkey"))
    },

    // ---- Heavy hitters: the keys a salted join should target, with
    // row share. TakeOrdered cut (per-partition heaps), no total sort.
    "q56_heavy_hitters" -> { (s, dir) =>
      Skew.heavyHitters(Tables.events(s, dir), col("user_id"), k = 10)
    },

    // ---- Salted join: skew-proof lineitem⋈orders — hot order keys
    // spread over 8 salt buckets, right side replicated 8x. Must be
    // bit-identical to the plain join, which is what the oracle runs.
    "q57_salted_join" -> { (s, dir) =>
      val orders = Tables.orders(s, dir)
        .withColumnRenamed("o_orderkey", "l_orderkey")
        .select(col("l_orderkey"), col("o_orderstatus"))
      Skew.saltedJoin(Tables.lineitem(s, dir), orders,
          Seq("l_orderkey"), saltFactor = 8)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice")), 2).as("total_price"))
        .orderBy("o_orderstatus")
    },

    // ---- BM25 top-k retrieval: lexical corpus search. The token
    // stream is filtered to the query's terms before any exchange, df
    // and corpus stats ride as broadcasts, and the final cut is a
    // TakeOrdered — no total sort, no corpus-sized shuffle anywhere.
    "q54_bm25_search" -> { (s, dir) =>
      Retrieval.bm25TopK(Tables.documents(s, dir), "doc_id", col("text"),
        queryTerms = Seq("spark", "shuffle", "join"), k = 20)
    },

    // ---- S11: plain-text corpus scan — documents dumped to a text
    // file, re-read with the verse-scan semantics (trim + min-length
    // filter, driver_bible.py:24-47), aggregated so the oracle can
    // check the same filter applied directly on the source table.
    "q44_text_corpus" -> { (s, dir) =>
      val tmp = s"/tmp/graft_q44_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      Tables.documents(s, dir).select(col("text")).write.mode("overwrite").text(tmp)
      sources.CorpusIO.readTextCorpus(s, tmp, minLen = 100)
        .agg(count(lit(1)).as("n"),
          sum(length(col("text"))).as("total_chars"))
    },

    // ---- Second optimizer-rule surface: the DECLARATIVE cosine join.
    // Written as the naive theta-join on the cosine_sim marker;
    // graft.plans.CosineJoinRewrite replaces the nested-loop cross
    // product with the cell-pruned exact join (hyperplane cells +
    // triangle-inequality pruning + exact verify). Output hash-checked
    // against DuckDB's brute force — the rewrite's exact-output
    // guarantee is oracle-gated like q58's.
    "q67_cosine_join_rewrite" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b,
          Similarity.cosineSim(col("va"), col("vb")) >= lit(0.4) &&
            col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(Similarity.cosineSim(col("va"), col("vb")), 6).as("sim"))
        .orderBy("id_a", "id_b")
    },

    // ---- Incremental corpus growth: dedup an incoming batch (odd
    // doc_ids) against the persisted signature table of the existing
    // corpus (even doc_ids), then against itself — corpus text is
    // never re-read. Seeded-minhash-dependent → rows-only; DedupSpec
    // pins the semantics.
    "q66_incremental_dedup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // export ALL signatures once; the oracle replays both stages
      // (bipartite incoming-vs-corpus band collision + agreement
      // verify, then the self-dedup over the survivors) from the same
      // exported seeded state — see q37 for the candidate-rule replay.
      Dedup.minhashSignatures(docs, "doc_id", col("text"))
        .withColumnRenamed("__sig", "sig")
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q66_sigs")
      val sigsBack = s.read.parquet(s"${stateDir(dir)}/q66_sigs")
        .withColumnRenamed("sig", "__sig")
      val corpusSigs = sigsBack.filter(col("doc_id") % 2 === 0)
      val incoming = docs.filter(col("doc_id") % 2 === 1)
      val vsCorpus = Dedup.minhashDedupAgainst(incoming, "doc_id", col("text"),
        corpusSigs, threshold = 0.5)
      // stage-2 self-dedup from the same persisted signatures,
      // restricted to the stage-1 survivors (a superset signature
      // table would resurrect pairs involving removed docs)
      // uncapped for oracle-exactness, like q37
      Dedup.minhashDedupFromSigs(vsCorpus, "doc_id",
          sigsBack.join(vsCorpus.select("doc_id"), Seq("doc_id"), "left_semi"),
          threshold = 0.5, maxBucketSize = Int.MaxValue)
        .select("doc_id").orderBy("doc_id")
    },

    // ---- Sub-word redundancy profiling: deflate compression-ratio
    // histogram over the corpus (boilerplate compresses; prose
    // doesn't). zlib has no DuckDB analog, so the per-doc ratio from
    // the native CompressionRatio expression is EXPORTED and the
    // oracle replays the decile histogram aggregation over it;
    // AnalysisSpec pins the ratio's direction and determinism.
    "q65_compression_profile" -> { (s, dir) =>
      val ratios = Tables.documents(s, dir)
        .select(col("doc_id"),
          functions.analysis.compression_ratio(col("text")).as("ratio"))
      ratios.write.mode("overwrite").parquet(s"${stateDir(dir)}/q65_ratios")
      ratios
        .groupBy(floor(col("ratio") * 10).cast("int").as("ratio_decile"))
        .agg(count(lit(1)).as("n_docs"), round(avg(col("ratio")), 4).as("mean_ratio"))
        .orderBy("ratio_decile")
    },

    // ---- Gopher-style repetition profiling: per-doc word counts,
    // top-word share, and TTR — the repetition filters of LLM data
    // curation, fully SQL-expressible so the whole profile
    // hash-checks.
    "q64_word_repetition" -> { (s, dir) =>
      Stats.wordRepetition(Tables.documents(s, dir), "doc_id", col("text"))
        .orderBy("doc_id")
    },

    // ---- Quality-trend anomaly detection (A9/W1 extension): per-type
    // daily counts z-scored against the trailing 7-day window. The
    // variance comes from EXPLICIT integer window sums ((Σx² −
    // (Σx)²/n)/(n−1)) so both engines walk the identical float path —
    // builtin stddev implementations differ numerically and would
    // flake a hash oracle.
    "q63_trend_anomaly" -> { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-7, -1)
      val cnt = count(col("n")).over(w)
      val s1 = sum(col("n")).over(w).cast("double")
      val s2 = sum(col("n") * col("n")).over(w).cast("double")
      val withStats = daily
        .withColumn("__c", cnt).withColumn("__s1", s1).withColumn("__s2", s2)
        .filter(col("__c") === 7)
        .withColumn("__mean", col("__s1") / col("__c"))
        .withColumn("__var",
          (col("__s2") - col("__s1") * col("__s1") / col("__c")) / (col("__c") - 1))
        .filter(col("__var") > 0)
        .withColumn("z", round((col("n") - col("__mean")) / sqrt(col("__var")), 4))
      withStats.filter(abs(col("z")) >= 1.5)
        .select(col("day").cast("string").as("day"), col("event_type"), col("n"), col("z"))
        .orderBy("day", "event_type")
    },

    // ---- Data-mixture assembly: budget-capped stratified sample —
    // every language capped at 20k chars, rows taken in deterministic
    // md5 order until the budget fills. Proportions come from budgets,
    // not from the crawl's skew; window-cumsum is engine-agnostic so
    // the exact kept set hash-checks against DuckDB.
    "q62_budget_sample" -> { (s, dir) =>
      Split.budgetSample(Tables.documents(s, dir),
          strata = col("lang"), key = col("doc_id"), cost = col("n_chars"),
          budget = 20000L, seed = 42L)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },

    // ---- Hybrid retrieval: BM25 lexical recall (top-50 candidates,
    // proportional-to-hits plan) reranked by embedding cosine against
    // a query vector — the standard two-stage retrieval pipeline,
    // composed from the engine's own stages and oracle-checked
    // end-to-end. Query vector = embedding of vec_id 0 (deterministic).
    "q61_hybrid_retrieval" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val qv = emb.filter(col("vec_id") === 0).select(col("emb").as("qv"))
      val cands = Retrieval.bm25TopK(docs, "doc_id", col("text"),
        queryTerms = Seq("spark", "shuffle", "join"), k = 50)
      cands.join(emb, cands("doc_id") === emb("vec_id"))
        .crossJoin(broadcast(qv))
        .withColumn("__cos", Similarity.cosine(col("emb"), col("qv")))
        .filter(!isnan(col("__cos")))
        .orderBy(desc("__cos"), col("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("bm25_score"), round(col("__cos"), 6).as("cos_sim"))
    },

    // ---- §2.10 stream-stream interval join (funnel attribution):
    // view → click by the same user within 10 minutes. Batch mode of
    // the same operator the streaming spec drives with real streams;
    // the aggregate keeps the oracle output small and integer-only.
    "q60_interval_join" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      streaming.StreamOps.intervalJoin(views, clicks, "user_id", "ts", "10 minutes")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("view_id")).as("n_views_with_click"))
        .orderBy("user_id")
    },

    // ---- Product quantization: train on a bounded deterministic
    // sample, one narrow encode map (64-dim fp32 -> 16 bytes/vector),
    // ADC cosine top-k from codes alone. The kmeans-derived codebook
    // and the per-vector codes are EXPORTED (seeded-deterministic
    // state); the oracle independently replays the asymmetric-distance
    // computation — per-subspace LUT dots against the codebook, the
    // code-indexed sum, the stored-norm cosine normalization — and the
    // top-k window. PqSpec keeps the recall/error gates.
    "q59_pq_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val model = operators.Pq.train(emb, "vec_id", "embedding", m = 16, ksub = 256)
      val cbRows = for { sub <- 0 until model.m; c <- 0 until model.ksub } yield
        (sub, c, model.codebook.slice((sub * model.ksub + c) * model.dsub,
          (sub * model.ksub + c + 1) * model.dsub).toSeq)
      s.createDataFrame(cbRows).toDF("s", "c", "cent")
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q59_codebook")
      val coded = operators.Pq.encode(emb, "embedding", model)
      coded.select(col("vec_id"),
          transform(col("pq_code"), b => pmod(b.cast("int"), lit(256))).as("code"),
          col("pq_norm"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q59_codes")
      operators.Pq.adcTopK(coded, emb.filter(col("vec_id") % 40 === 0),
          "vec_id", "pq_code", "embedding", model, k = 5)
        .orderBy("query_id", "rank")
    },

    // ---- Optimizer-rule surface: the DECLARATIVE similarity join. The
    // query is written as the naive theta-join on the ngram_jaccard_sim
    // marker — the only plan Spark itself has for it is a nested-loop
    // cross product — and graft.plans.JaccardJoinRewrite (installed by
    // GraftSession / spark.sql.extensions) rewrites it into the
    // count-based exact set-similarity join. Output is hash-checked
    // against DuckDB's brute force, i.e. the rewrite's exact-output
    // guarantee is oracle-gated; JaccardRewriteSpec asserts the plan
    // contains no nested-loop join.
    "q58_jaccard_join_rewrite" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val eval = docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("eval_id"), col("text").as("eval_text"))
      val corpus = docs.select(col("doc_id"), col("text"))
      eval.join(corpus,
          Dedup.jaccardSim(col("eval_text"), col("text"), 12) >= lit(0.5) &&
            col("eval_id") =!= col("doc_id"))
        .select(col("eval_id"), col("doc_id"),
          round(Dedup.jaccardSim(col("eval_text"), col("text"), 12), 6).as("jaccard"))
        .orderBy("eval_id", "doc_id")
    },

    // ---- CCNet/RefinedWeb boilerplate pass: lines occurring in 2+
    // DISTINCT documents are removed from every document. This corpus
    // is single-line docs with no cross-doc line repeats, so the pass
    // is an identity — which is exactly what the oracle gates: the
    // explode → distinct-doc count → anti-join → ordered reassembly
    // must reconstruct every document byte-identically. DedupSpec
    // carries the removal semantics on a boilerplate fixture.
    "q68_line_dedup" -> { (s, dir) =>
      Dedup.dedupLines(Tables.documents(s, dir), "doc_id", "text", minDocs = 2)
        .select(col("doc_id"), col("text"), col("lang"))
        .orderBy("doc_id")
    },

    // ---- Gopher-style duplicated-PHRASE profiling: per-doc fraction
    // of characters inside repeated word bigrams + heaviest-gram
    // share. Integer-sum ratios, so the whole profile hash-checks.
    "q69_dup_ngram_profile" -> { (s, dir) =>
      Stats.dupNgramProfile(Tables.documents(s, dir), "doc_id", col("text"), n = 2)
        .orderBy("doc_id")
    },

    // ---- Sequence packing (pretraining batch assembly): per
    // (lang, shard) the corpus is a concatenated char stream cut every
    // 2048 chars; each doc gets the pack where it starts + its offset.
    // Pure window cumsum — deterministic on any cluster shape.
    "q70_sequence_pack" -> { (s, dir) =>
      val shard = pmod(col("doc_id"), lit(4)).cast("long")
      Split.packSequences(Tables.documents(s, dir), key = col("doc_id"),
          cost = col("n_chars"), capacity = 2048L,
          strata = Seq(col("lang"), shard))
        .select(col("doc_id"), col("lang"), shard.as("shard"),
          col("pack_id"), col("pack_offset"))
        .orderBy("doc_id")
    },

    // ---- Exact interpolating length quantiles per language
    // (quantile_cont semantics on both engines; percentile_approx is
    // the documented 100 TB swap-in).
    "q71_quantile_profile" -> { (s, dir) =>
      Stats.quantileProfile(Tables.documents(s, dir), col("n_chars"),
          Seq(0.25, 0.5, 0.75, 0.9, 0.99), groupBy = Seq(col("lang")))
        .orderBy("lang", "quantile")
    },

    // ---- SimHash near-dedup with a TRUE Hamming budget (pigeonhole
    // bands guarantee every ≤3-bit pair collides in some band; exact
    // popcount verify). Signature is xxhash64-seeded → rows-only;
    // DedupSpec cross-validates the pair set against a brute-force
    // all-pairs Hamming join.
    "q72_simhash_near_dedup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // the signature is the exported seeded state; the oracle replays
      // the ALL-PAIRS Hamming-≤-3 + keep-lowest-id anti-join over it
      // (the pigeonhole banding GUARANTEES the engine's drop set equals
      // the brute-force one, so the replay is exact — see
      // Dedup.hammingDupIds)
      docs.select(col("doc_id"), Dedup.simhashSignature(col("text")).as("sig"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q72_sigs")
      Dedup.simhashNearDedup(docs, "doc_id", col("text"),
          maxHamming = 3)
        .select("doc_id").orderBy("doc_id")
    },

    // ---- Tokenizer sizing: top-64 vocabulary with cumulative
    // coverage of the FULL token stream. Rank/cumsum windows run after
    // the limit, so the unpartitioned window only ever sees 64 rows.
    "q73_vocab_coverage" -> { (s, dir) =>
      Stats.vocabCoverage(Tables.documents(s, dir), col("text"), k = 64)
        .orderBy("rank")
    },

    // ---- Embedding QA: per-label centroid cohesion (mean/min member
    // cosine to the label centroid), NaN vectors quarantined. The
    // hash-stable mode rounds every merge-order-dependent intermediate
    // (per-dim sums → 4, the three dot products → 6, the cosine sum →
    // 4) BEFORE it is consumed, so DuckDB reproduces the values
    // bit-for-bit and the report hash-oracles; SimilaritySpec pins the
    // unrounded geometry on exactly-representable fixtures.
    "q74_centroid_report" -> { (s, dir) =>
      Similarity.centroidReport(Tables.embeddings(s, dir), "label", "embedding",
        hashStable = true)
    },

    // ---- The composed curation gate — the engine's quality filters
    // chained the way a pretraining pipeline runs them: collapse
    // in-doc repeated lines, profile word repetition + duplicated
    // phrases, keep docs passing all repetition and length gates
    // (150 of 500 at sf0.01 — every threshold has real signal).
    "q75_curation_gate" -> { (s, dir) =>
      val docs = Dedup.collapseRepeatedLines(Tables.documents(s, dir), "doc_id", "text")
      val rep = Stats.wordRepetition(docs, "doc_id", col("text"))
        .select(col("doc_id"), col("top_word_frac"))
      val dup = Stats.dupNgramProfile(docs, "doc_id", col("text"), n = 2)
        .select(col("doc_id"), col("dup_gram_char_frac"))
      docs.join(rep, Seq("doc_id")).join(dup, Seq("doc_id"))
        .filter(col("top_word_frac") <= 0.12 && col("dup_gram_char_frac") <= 0.05 &&
          col("n_chars").between(100, 500))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("top_word_frac"), col("dup_gram_char_frac"))
        .orderBy("doc_id")
    },

    // ---- Bucketed range join: customers whose balance falls in each
    // supplier's ±500 band. Spark's only native plan for the BETWEEN
    // theta-join is a nested loop; the grid-bucket join is an ordinary
    // hash join + exact verify — identical output (oracle = DuckDB's
    // brute-force BETWEEN), no cross product (PlanSpec asserts).
    "q76_range_join" -> { (s, dir) =>
      val bands = Tables.supplier(s, dir).select(col("s_suppkey"),
        (col("s_acctbal") - 500).as("bal_lo"), (col("s_acctbal") + 500).as("bal_hi"))
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal"))
      operators.RangeJoin.pointInInterval(cust, col("c_acctbal"),
          bands, col("bal_lo"), col("bal_hi"), bucketWidth = 250.0)
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_in_band"),
          round(sum(col("c_acctbal")), 2).as("sum_bal"))
        .orderBy("s_suppkey")
    },

    // ---- The DECLARATIVE form of the range join: a plain BETWEEN
    // theta-join (strict bounds, no graft marker — the first rewrite
    // that fires on vanilla SQL shapes). With the bucket width set,
    // graft.plans.RangeJoinRewrite replaces Spark's only native plan
    // (nested loop) with the grid-bucket hash join; output is
    // hash-checked against DuckDB's brute force end to end.
    "q77_range_join_rewrite" -> { (s, dir) =>
      s.conf.set("spark.graft.range_join.bucket_width", "150.0")
      val bands = Tables.supplier(s, dir).select(col("s_suppkey"),
        (col("s_acctbal") - 300).as("blo"), (col("s_acctbal") + 300).as("bhi"))
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal"))
      cust.join(bands, col("c_acctbal") > col("blo") && col("c_acctbal") < col("bhi"))
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_in_band"),
          round(sum(col("c_acctbal")), 2).as("sum_bal"))
        .orderBy("s_suppkey")
    },

    // ---- Sliding-window chunking with overlap (embedding/RAG prep):
    // 200-char windows every 120 chars, tail window reaches the end.
    // Chunk boundaries are pure arithmetic, so the full chunk table
    // hash-checks.
    "q78_chunk_overlap" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(functions.analysis.chunk_overlap(col("text"), 200, 120))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx"), col("chunk"),
          length(col("chunk")).as("chunk_len"))
        .orderBy("doc_id", "chunk_idx")
    },

    // ---- Cross-doc duplicated-span profile (exact-substring
    // contamination): every 8-word window, word-boundary anchored so
    // shared runs match at any byte offset; a span seen in 2+
    // distinct docs is duplicated. 47 of 500 docs carry verbatim
    // cross-doc spans at sf0.01 — the near-dup clusters surface
    // without any fuzzy hashing.
    "q79_duplicate_spans" -> { (s, dir) =>
      Dedup.duplicateSpans(Tables.documents(s, dir), "doc_id", col("text"),
          spanWords = 8, minDocs = 2)
        .orderBy("doc_id")
    },

    // ---- Unigram surprisal scoring (the LM-perplexity quality gate,
    // unigram flavor): −log2 corpus frequency per word, per-doc mean.
    // Keyword stuffing scores low, out-of-register text scores high —
    // curation cuts both tails.
    "q80_unigram_surprisal" -> { (s, dir) =>
      Stats.unigramSurprisal(Tables.documents(s, dir), "doc_id", col("text"))
        .orderBy("doc_id")
    },

    // ---- Verbatim-overlap benchmark decontamination (the GPT-3/Pile
    // n-gram rule): every corpus doc sharing any 5-word gram with the
    // held-out eval slice gets flagged. Eval grams distinct to a tiny
    // broadcast set — the corpus side never shuffles on gram. The
    // fuzzy document-level sibling is q49.
    "q81_contamination_profile" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val evalSet = docs.filter(col("doc_id") % 7 === 0)
      val corpus = docs.filter(col("doc_id") % 7 =!= 0)
      Dedup.contaminationProfile(corpus, "doc_id", col("text"),
          evalSet, col("text"), nWords = 5)
        .select(col("doc_id"), col("n_grams"), col("hit_grams"), col("contaminated"))
        .orderBy("doc_id")
    },

    // ---- PII redaction scrub: emails/IPv4s/+phones/long digit runs
    // → typed placeholders, with stage-ordered per-type counts. The
    // synthetic docs carry no PII, so the query plants a deterministic
    // PII suffix (same expression on the DuckDB side) — every row
    // exercises all four patterns. Pure regexp column chain: runs
    // inline with the scan, no shuffle at all.
    "q82_pii_redaction" -> { (s, dir) =>
      val withPii = Tables.documents(s, dir).withColumn("__t",
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 call +1 555-000-1234 ref 98765432"),
          (col("doc_id") % 10).cast("string")))
      withPii
        .select(col("doc_id"),
          analysis.redact_pii(col("__t")).as("redacted"),
          analysis.pii_counts(col("__t")).as("p"))
        .select(col("doc_id"), col("redacted"),
          col("p.n_email"), col("p.n_ip"), col("p.n_phone"), col("p.n_id"))
        .orderBy("doc_id")
    },

    // ---- C4 line-and-page cleaning rules. The synthetic docs are
    // single-line and punctuation-free, so the query first lays each
    // doc out as six 60-char lines whose suffix cycles compliant /
    // unterminated / blacklisted by (doc_id+i)%3, and plants the
    // page-level lorem-ipsum poison on every 97th doc — the identical
    // construction on the DuckDB side. The gate itself is one filter
    // HOF inline with the scan: no shuffle, no explode.
    "q83_c4_line_rules" -> { (s, dir) =>
      val lineExprs = (0 to 5).map { i =>
        val m = (col("doc_id") + lit(i)) % 3
        concat(substring(col("text"), i * 60 + 1, 60),
          when(m === 0, lit(".")).when(m === 1, lit(""))
            .otherwise(lit(" javascript.")))
      }
      val t2 = concat_ws("\n", lineExprs: _*)
      val synth = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 97 === 0,
            concat(t2, lit("\nmore lorem ipsum filler text here.")))
          .otherwise(t2).as("text"))
      graft.operators.Quality.c4LineRules(synth, "text",
          minWordsPerLine = 5, minKeptLines = 2)
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
    },

    // ---- Temperature-scaled mixture sampling (the n^alpha rule of
    // multilingual pretraining): sqrt-temperature over the language
    // mixture, 200-doc budget. Tiny count agg + broadcast quotas +
    // one window shuffle on lang; kept set fully deterministic in
    // (doc_id, seed) so the DuckDB oracle hash-matches it.
    "q84_temperature_sample" -> { (s, dir) =>
      Split.temperatureSample(Tables.documents(s, dir),
          strata = col("lang"), key = col("doc_id"),
          targetTotal = 200L, alpha = 0.5, seed = 42L)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // ---- DSIR-style importance weighting (unigram flavor): score
    // every doc by the mean log-likelihood ratio of its words under
    // the target-domain model (lang='de' subset) vs the raw-corpus
    // model, add-one smoothed over the shared vocabulary. Two freq
    // aggs merged into one dictionary, then words⋈dictionary + per-doc
    // rollup — the dictionary is vocabulary-sized, never corpus-sized.
    "q85_importance_weight" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Stats.importanceWeight(docs, "doc_id", col("text"),
          docs.filter(col("lang") === "de"), col("text"))
        .orderBy("doc_id")
    },

    // ---- Margin-based bitext mining (Artetxe-Schwenk ratio margin):
    // even vec_ids are the "source language", odd the "target"; each
    // source mines its best-margin target above the average-neighbor
    // line. Exact-kNN baseline here (oracle-checkable); ann=true is
    // the bucket-join 100 TB path, agreement-tested in SimilaritySpec.
    "q86_margin_mine" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Similarity.marginMine(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", k = 4, minMargin = 1.0)
        .orderBy("src_id")
    },

    // ---- Leakage-safe split: near-dup clusters (simhash pairs →
    // connected components) move to a split as a unit, so a training
    // doc's near-duplicate can never land in test. The seeded state
    // (SimHash signatures + the per-potential-root split uniform) is
    // EXPORTED; the oracle independently replays the Hamming pair
    // enumeration, the min-label connected components (recursive CTE),
    // and the threshold labelling of each cluster's root.
    "q87_leakage_safe_split" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      docs.select(col("doc_id"), Dedup.simhashSignature(col("text")).as("sig"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q87_sigs")
      docs.select(col("doc_id"),
          Split.uniform(text.dedup_key(col("doc_id"))).as("u"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q87_u")
      val pairs = Dedup.simhashPairs(docs, "doc_id", col("text"), maxHamming = 3)
      Split.leakageSafeSplit(docs, "doc_id", pairs)
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    },

    // ---- FineWeb-style relative quality gate: keep the top 40% of
    // each language by token count — absolute thresholds tuned on one
    // domain misfire on another, so curation selects within strata.
    // One window shuffle on lang; quota rounded before the ceil.
    "q88_relative_filter" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .withColumn("n_tokens", analysis.token_count(col("text")))
      graft.operators.Quality.relativeFilter(docs, col("n_tokens"), col("lang"),
          keepFrac = 0.4, tieBreak = Seq(col("doc_id")))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
        .orderBy("doc_id")
    },

    // ---- The stateless decontamination GATE (q81's profile is the
    // audit view; this is the removal view): eval gram digests ride
    // into a native membership expression, so the whole gate is a
    // map-side filter — the identical code path runs on a stream
    // (StreamingSpec). Batch run here, hash-checked vs the oracle.
    "q89_decontaminate_gate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val digests = graft.streaming.StreamOps.evalGramDigests(
        docs.filter(col("doc_id") % 7 === 0), col("text"), nWords = 5)
      graft.streaming.StreamOps.decontaminateStream(
          docs.filter(col("doc_id") % 7 =!= 0), col("text"), digests, nWords = 5)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // ---- Conditional (bigram) LM gate: unigram surprisal (q80)
    // can't see word salad built from common words — every word is
    // cheap but every TRANSITION is rare. Bigram freq + unigram freq,
    // two vocabulary-sized hash joins on the native bigram stream.
    "q90_bigram_surprisal" -> { (s, dir) =>
      Stats.bigramSurprisal(Tables.documents(s, dir), "doc_id", col("text"))
        .orderBy("doc_id")
    },

    // ---- Data-mixture card: per-(lang, source) composition with
    // corpus shares — the report a mixture decision (and q84's
    // temperature reweighting) starts from. One map-side-combined
    // agg + a single-row totals broadcast.
    "q91_mixture_report" -> { (s, dir) =>
      Stats.mixtureReport(Tables.documents(s, dir),
          Seq(col("lang"), col("source")), col("n_chars"))
        .orderBy("lang", "source")
    },

    // ---- The composed curation pipeline (FineWeb-shaped): stateless
    // decontamination gate → word-repetition gate → per-language
    // relative quality selection → temperature-balanced mixture.
    // Every stage is an engine operator already oracle-proven alone;
    // this query proves they COMPOSE, hash-checked end-to-end against
    // the chained SQL. Map-side gates first (narrow), stratum windows
    // only after the corpus has shrunk.
    "q92_curation_pipeline" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val digests = graft.streaming.StreamOps.evalGramDigests(
        docs.filter(col("doc_id") % 7 === 0), col("text"), nWords = 5)
      val clean = graft.streaming.StreamOps.decontaminateStream(
        docs.filter(col("doc_id") % 7 =!= 0), col("text"), digests, nWords = 5)
      val rep = Stats.wordRepetition(clean, "doc_id", col("text"))
        .filter(col("top_word_frac") <= 0.12).select("doc_id")
      val gated = clean.join(rep, Seq("doc_id"))
        .withColumn("n_tokens", analysis.token_count(col("text")))
      val selected = graft.operators.Quality.relativeFilter(
        gated, col("n_tokens"), col("lang"), keepFrac = 0.6, tieBreak = Seq(col("doc_id")))
      Split.temperatureSample(selected, col("lang"), col("doc_id"),
          targetTotal = 120L, alpha = 0.5, seed = 42L)
        .select(col("doc_id"), col("lang"), col("n_tokens"))
        .orderBy("doc_id")
    },

    // ---- Temperature resampling WITH replacement (the full mT5
    // rule): at alpha=0.3 over an 800-row budget, low-resource
    // languages upsample (multiple copies per doc) while the en head
    // downsamples — exact quotas, deterministic copies.
    "q93_temperature_resample" -> { (s, dir) =>
      Split.temperatureResample(Tables.documents(s, dir),
          strata = col("lang"), key = col("doc_id"),
          targetTotal = 800L, alpha = 0.3, seed = 42L)
        .select(col("doc_id"), col("lang"), col("copy"))
        .orderBy("doc_id", "copy")
    },

    // ---- Dataset-card column profile: non-null/null-rate/distinct/
    // min/max per column in ONE aggregation pass (the reference
    // rescans per column); exact distinct here for the oracle,
    // approx_count_distinct documented as the 100 TB swap.
    "q94_column_profile" -> { (s, dir) =>
      Stats.columnProfile(Tables.documents(s, dir),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy("column_name")
    },

    // ---- The ANN margin-mining path (q86's 100 TB form): both kNN
    // sweeps through the hyperplane-bucket equi-join — no broadcast,
    // no cross product. The seeded hyperplane signatures are EXPORTED
    // per table; the oracle replays the bucket-collision candidate
    // set, the exact-cosine top-k within candidates, and q86's margin
    // algebra independently. Exact/ANN agreement stays
    // SimilaritySpec-asserted.
    "q95_margin_mine_ann" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val sigStructs = (0 until 6).map(t =>
        struct(lit(t).as("t"),
          Similarity.hyperplaneSignature(col("embedding"), bits = 8,
            seed = 42L + t).as("sig")))
      emb.select(col("vec_id"), explode(array(sigStructs: _*)).as("__s"))
        .select(col("vec_id"), col("__s.t"), col("__s.sig"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q95_sigs")
      Similarity.marginMine(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", k = 4, minMargin = 1.0,
          ann = true, bits = 8, tables = 6)
        .orderBy("src_id")
    },

    // ---- ExactSubstr span removal (q79 flags, this REWRITES): every
    // word covered by a cross-document 8-word verbatim run is cut;
    // the unique remainder survives in order. Byte-identical
    // reassembly is the hard part — hash-checked against the oracle.
    "q96_remove_duplicate_spans" -> { (s, dir) =>
      Dedup.removeDuplicateSpans(Tables.documents(s, dir), "doc_id", "text",
          spanWords = 8, minDocs = 2)
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
    },

    // ---- ExactSubstr rewrite, byte-faithful form: same duplicated-run
    // detection as q96, but the cut maps back to ORIGINAL character
    // ranges (native word_char_spans offsets) — casing and the
    // separators flanking each cut survive, whitespace interior to a
    // cut goes with it. The DuckDB oracle rebuilds per-word pieces with
    // the same flanking-separator rule, so the whole offset-mapping
    // path is hash-checked.
    "q98_remove_spans_raw" -> { (s, dir) =>
      Dedup.removeDuplicateSpansRaw(Tables.documents(s, dir), "doc_id", "text",
          spanWords = 8, minDocs = 2)
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
    },

    // ---- Byte-balanced shard assignment: a GLOBAL ordered cost
    // cumsum computed by distributed prefix-sum (quantile-bucket
    // boundaries + per-bucket windows + driver prefix of B bucket
    // totals — never a 1-partition window). Hash-checked per-row
    // against DuckDB's single sequential window, proving the whole
    // bucketing/offset machinery equals the textbook definition.
    "q99_shard_assign" -> { (s, dir) =>
      Split.assignShards(Tables.documents(s, dir),
          col("doc_id"), length(col("text")), targetCost = 16384L)
        .select(col("doc_id"), col("shard"), col("shard_offset"))
        .orderBy("doc_id")
    },

    // ---- Incremental exact dedup against a PERSISTED BUCKETED digest
    // table (Incremental.writeDigestTable + exactDedupAgainstTable):
    // corpus = doc_id % 5 != 0, incoming = doc_id % 3 == 0; drop
    // incoming rows whose (normalized) text already exists in the
    // corpus state. The oracle is the logical definition (anti-join on
    // text); the engine runs it through the digest table so the
    // bucketed state machinery itself is hash-checked. On the ASCII
    // fixture norm_key(text) = text, so text equality IS the oracle
    // predicate (IncrementalSpec pins the normalized semantics).
    "q100_incremental_exact" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val path = s"${stateDir(dir)}/q100_state"
      s.sql("DROP TABLE IF EXISTS graft_q100_digests")
      Incremental.writeDigestTable(docs.filter(col("doc_id") % 5 =!= 0),
        col("text"), "graft_q100_digests", path, numBuckets = 8)
      Incremental.exactDedupAgainstTable(
          docs.filter(col("doc_id") % 3 === 0),
          col("text"), s.table("graft_q100_digests"))
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
    },

    // ---- q81 through the BLOOM gate: same verbatim-overlap profile,
    // but eval membership tested via a Bloom filter folded into ONE
    // map over the corpus — no join, no shuffle (the large-eval-set
    // scale path; DedupSpec pins the one-sided never-under-count
    // contract). The oracle is q81's exact SQL: legitimate because
    // the filter's measured false positives on this corpus at this
    // fpp are ZERO and Spark's Bloom hashing is deterministic —
    // over-count here would be an honest hash-mismatch, not noise.
    "q101_contamination_bloom" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val evalSet = docs.filter(col("doc_id") % 7 === 0)
      val corpus = docs.filter(col("doc_id") % 7 =!= 0)
      Dedup.contaminationProfileBloom(corpus, "doc_id", col("text"),
          evalSet, col("text"), nWords = 5, fpp = 1e-9)
        .select(col("doc_id"), col("n_grams"), col("hit_grams"), col("contaminated"))
        .orderBy("doc_id")
    },

    // ---- The 100 TB recurring-ingestion shape, fuzzy: probe an
    // incoming batch against the PERSISTED bucketed banded-signature
    // state table (corpus side never re-shuffles — IncrementalSpec
    // asserts the plan). Signatures are seeded → the query exports
    // both sides' banded keyings to the state dir and the oracle
    // replays the SQL-expressible part: the (band, bucket) collision
    // join + signature-agreement threshold + anti-join.
    "q106_incremental_fuzzy" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val incoming = docs.filter(col("doc_id") % 3 === 0)
      s.sql("DROP TABLE IF EXISTS graft_q106_sigs")
      Incremental.writeBandedSignatures(corpus, "doc_id", col("text"),
        "graft_q106_sigs", s"${stateDir(dir)}/q106_corpus", numBuckets = 8,
        numPerm = 64, bands = 16)
      Incremental.banded(
          Dedup.minhashSignatures(incoming, "doc_id", col("text"),
            numPerm = 64, shingleSize = 3),
          "doc_id", bands = 16, r = 4)
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q106_incoming")
      Incremental.minhashDedupAgainstTable(incoming, "doc_id", col("text"),
          s.table("graft_q106_sigs"), threshold = 0.8, numPerm = 64, bands = 16)
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
    },

    // ---- The 100 TB recurring-ingestion shape, semantic: probe an
    // incoming batch against the PERSISTED bucketed cell-vector state
    // table (q102's SemDeDup cells as a growing corpus; corpus side
    // never re-shuffles — IncrementalSpec asserts the plan). The state
    // table's own parquet files ARE the corpus-side oracle export; the
    // incoming side's cell keying is exported alongside, and the
    // oracle replays the same-cell cosine-threshold anti-join.
    "q107_incremental_semantic" -> { (s, dir) =>
      val embs = Tables.embeddings(s, dir)
      val corpus = embs.filter(col("vec_id") % 5 =!= 0)
      val incoming = embs.filter(col("vec_id") % 3 === 0)
      s.sql("DROP TABLE IF EXISTS graft_q107_cells")
      Incremental.writeCellVectors(corpus, "vec_id", "embedding",
        "graft_q107_cells", s"${stateDir(dir)}/q107_cells", numBuckets = 8,
        nCells = 64)
      val vd = col("embedding").cast("array<double>")
      incoming.filter(Dedup.semanticComparable(vd))
        .select(Dedup.semanticCell(vd, 64, 42L).as("cell"),
          col("vec_id"), vd.as("vec"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q107_incoming")
      Incremental.semanticDedupAgainstTable(incoming, "vec_id", "embedding",
          s.table("graft_q107_cells"), eps = 0.6, nCells = 64)
        .select("vec_id").orderBy("vec_id")
    },

    // ---- Dataset snapshot diff — the release-audit primitive: what
    // changed between corpus v1 and v2. Both versions are synthesized
    // DETERMINISTICALLY from documents (drop %7, edit %5, add 10) so
    // the oracle builds the identical snapshots; the engine decides
    // via 128-bit content digests (24-byte shuffle rows at any doc
    // width), the oracle by raw column comparison — gating that the
    // digest decisions match the ground truth.
    "q108_snapshot_diff" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val v1 = docs.select(col("doc_id"), col("text"), col("lang"))
      val v2 = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"),
          col("lang"))
        .unionByName(docs.filter(col("doc_id") < 10)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("lang")))
      Stats.snapshotDiff(v1, v2, "doc_id", Seq("text", "lang"))
        .groupBy(col("change")).agg(count(lit(1)).as("n"))
        .orderBy("change")
    },

    // ---- Recurring release audit: q108's diff against a PERSISTED
    // bucketed snapshot table — the shape where the last release's
    // digests stream bucket-aligned from disk and only the candidate
    // build shuffles. Same deterministic v1/v2 synthesis as q108, so
    // the same raw-column oracle gates the persisted path end-to-end;
    // IncrementalSpec asserts the no-state-side-Exchange plan.
    "q110_snapshot_diff_table" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val v1 = docs.select(col("doc_id"), col("text"), col("lang"))
      val v2 = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"),
          col("lang"))
        .unionByName(docs.filter(col("doc_id") < 10)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("lang")))
      s.sql("DROP TABLE IF EXISTS graft_q110_snapshot")
      Incremental.writeSnapshotTable(v1, "doc_id", Seq("text", "lang"),
        "graft_q110_snapshot", s"${stateDir(dir)}/q110_snapshot", numBuckets = 8)
      Incremental.snapshotDiffAgainstTable(v2, "doc_id", Seq("text", "lang"),
          s.table("graft_q110_snapshot"))
        .groupBy(col("change")).agg(count(lit(1)).as("n"))
        .orderBy("change")
    },

    // ---- Learned BPE tokenization: train merge rules on the corpus's
    // word-frequency dict (driver-side over bounded metadata, the Pq
    // stance), encode with the native BpeEncode kernel, and profile
    // per-doc token counts. The merge TABLE is the exported seeded
    // state; the oracle independently replays the ENTIRE greedy encode
    // loop (min-rank-first, all L→R occurrences per step) as a
    // recursive CTE over it — the tokenizer's semantics are hash-gated
    // end to end, not just spec'd.
    "q111_bpe_token_profile" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val model = operators.Bpe.train(docs, col("text"), numMerges = 40)
      s.createDataFrame(
          model.merges.zipWithIndex.map { case (m, i) => (i, m(0), m(1)) }.toSeq)
        .toDF("rank", "a", "b")
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q111_merges")
      docs.select(col("doc_id"),
          size(filter(split(lower(trim(col("text"))), "\\s+"), w => w =!= ""))
            .as("n_words"),
          model.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    },

    // ---- Tokenizer-accurate sequence packing: q70's batch assembly
    // driven by the LEARNED tokenizer's counts instead of a char
    // proxy — what the loader actually packs against. Composes q111's
    // trained model with packSequences; the oracle composes q111's
    // recursive-CTE encode replay with q70's window arithmetic.
    "q112_bpe_pack" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val model = operators.Bpe.train(docs, col("text"), numMerges = 40)
      s.createDataFrame(
          model.merges.zipWithIndex.map { case (m, i) => (i, m(0), m(1)) }.toSeq)
        .toDF("rank", "a", "b")
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q112_merges")
      Split.packSequences(docs, key = col("doc_id"),
          cost = model.tokenCount(col("text")).cast("long"), capacity = 512L,
          strata = Seq(col("lang")))
        .select(col("doc_id"), col("lang"), col("pack_id"), col("pack_offset"))
        .orderBy("doc_id")
    },

    // ---- WITHIN-doc line dedup (scraped-page cleanup): repeated
    // lines inside one document collapse to their first occurrence,
    // order preserved, no cross-document state. The corpus is
    // single-line, so the query synthesizes deterministic in-doc
    // repetition on both sides and the oracle replays the whole
    // explode → first-position → ordered-reassembly pipeline.
    "q113_line_dedup_within_doc" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val synth = docs.select(col("doc_id"), col("lang"),
        concat_ws("\n", col("text"), lit("REPEATED BLOCK"), col("text"),
          lit("REPEATED BLOCK"), substring(col("text"), 1, 20)).as("text"))
      Dedup.dedupLinesWithinDoc(synth, "doc_id", "text")
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
    },

    // ---- Keyed parquet upsert (MERGE between ingestion waves):
    // existing = even docs, batch = docs %3==0 with edited text; batch
    // wins per key, the rest carries over, temp-write + swap. The
    // query reads the UPSERTED TABLE back, so the oracle (replaying
    // the merge semantics from the raw table) gates the physical
    // rewrite end-to-end, like q109 gates compaction.
    "q114_upsert" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val path = s"${stateDir(dir)}/q114_table"
      val existing = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), col("lang"))
      existing.write.mode("overwrite").parquet(path)
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" UPSERTED")).as("text"),
          col("lang"))
      sources.CorpusIO.upsertParquet(s, path, batch, Seq("doc_id"))
      s.read.parquet(path)
        .select(col("doc_id"), col("text"), col("lang"))
        .orderBy("doc_id")
    },

    // ---- Optimizer-rule surface #4: the DECLARATIVE Hamming join.
    // Written as the vanilla bit_count(a ^ b) <= 3 theta-join — no
    // marker expression; Spark's only native plan is a nested-loop
    // cross product — and graft.plans.HammingJoinRewrite replaces it
    // with the exact pigeonhole-banded equi-join. Signatures are
    // exported seeded state; the oracle brute-forces xor+bit_count
    // over them, so the rewrite's exact-output guarantee is
    // oracle-gated like q58/q67/q77. HammingRewriteSpec asserts the
    // plan has no nested loop.
    "q115_hamming_join_rewrite" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val sigs = docs.select(col("doc_id"),
        Dedup.simhashSignature(col("text")).as("sig"))
      sigs.write.mode("overwrite").parquet(s"${stateDir(dir)}/q115_sigs")
      val a = sigs.as("a"); val b = sigs.as("b")
      a.join(b,
          bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= lit(3) &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("dist"))
        .orderBy("id_a", "id_b")
    },

    // ---- Small-file compaction (table maintenance): explode the
    // documents table into many tiny files, compact to a byte-target
    // layout, and return the compacted CONTENT — the oracle reads the
    // original table, so the whole rewrite is gated content-exact.
    // LayoutSpec asserts the file-count arithmetic and clustering.
    "q109_compact" -> { (s, dir) =>
      val frag = s"${stateDir(dir)}/q109_fragmented"
      val compacted = s"${stateDir(dir)}/q109_compacted"
      val docs = Tables.documents(s, dir)
      docs.repartition(64).write.mode("overwrite").parquet(frag)
      val p = new org.apache.hadoop.fs.Path(frag)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      val total = fs.getContentSummary(p).getLength
      // target ≈ a quarter of the input → 4 files regardless of SF
      sources.CorpusIO.compact(s, frag, compacted,
        targetBytes = math.max(1L, total / 4), sortCols = Seq("doc_id"))
      s.read.parquet(compacted)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .orderBy("doc_id")
    },

    // ---- Embedding-space decontamination: the PARAPHRASE-level
    // member of the decontamination family (verbatim n-gram q81,
    // Bloom q101, fuzzy-Jaccard q49, streaming q89 are the surface-
    // overlap gates). Eval vectors are bucketed into the SAME seeded
    // SemDeDup cells as the corpus and broadcast; cells + vectors are
    // exported seeded state and the oracle replays the within-cell
    // cosine gate + anti-join.
    "q116_semantic_decontaminate" -> { (s, dir) =>
      val embs = Tables.embeddings(s, dir)
      val evalSet = embs.filter(col("vec_id") % 10 === 0)
      val corpus = embs.filter(col("vec_id") % 10 =!= 0)
      val vd = col("embedding").cast("array<double>")
      corpus.filter(Dedup.semanticComparable(vd))
        .select(Dedup.semanticCell(vd, 64, 42L).as("cell"),
          col("vec_id"), vd.as("vec"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q116_corpus")
      evalSet.filter(Dedup.semanticComparable(vd))
        .select(vd.as("vec")).distinct()
        .select(Dedup.semanticCell(col("vec"), 64, 42L).as("cell"), col("vec"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q116_eval")
      Dedup.semanticDecontaminate(corpus, "vec_id", "embedding",
          evalSet, "embedding", eps = 0.8, nCells = 64)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    },

    // ---- Weighted sampling without replacement (Efraimidis–Spirakis
    // A-RES): the SELECTION step for importance-weighted curation
    // (q85 scores docs; this draws the subset). Uniforms are
    // xxhash64-seeded engine state (exported); the u^(1/w) score,
    // 9-decimal rounding, ranking, and cutoff are replayed in SQL.
    "q117_weighted_sample" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      docs.select(col("doc_id"), Split.uniform(col("doc_id"), 42L).as("u"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q117_uniforms")
      Split.weightedSample(docs, col("doc_id"), col("n_chars"), k = 100)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },

    // ---- SOFT dedup: every row kept, near-dup clusters down-weighted
    // to total mass 1 (weight = 1/|component|). Pairs come from the
    // exact-output similarPairsApprox, so the oracle recomputes the
    // graph brute-force and replays the closure (q47's recursive CTE)
    // + the size/weight arithmetic with no exported state at all.
    "q118_soft_dedup_weights" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val pairs = Similarity.similarPairsApprox(emb, "vec_id", "embedding", t = 0.4)
      DupClusters.softDedupWeights(emb, "vec_id", pairs)
        .select(col("vec_id"), col("label"), col("dup_cluster_size"),
          col("soft_weight"))
        .orderBy("vec_id")
    },

    // ---- Markup stripping (web-scrape boilerplate removal, the step
    // before the C4/Gopher gates). The sf documents are plain word
    // soup, so markup is synthesized DETERMINISTICALLY on both sides
    // (the q82 planted-PII pattern); the strip chain is RE2-compatible
    // and fully SQL-replayed, markup density included.
    "q119_strip_markup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val raw = concat(
        lit("<html><head><style>p{color:red}</style></head><body><!-- note "),
        col("doc_id").cast("string"),
        lit(" --><p class=\"x\">"), col("text"),
        lit("</p><script>var a=1;</script>&nbsp;&amp; tail &#65;&amp;lt;</body></html>"))
      // spreadWide BEFORE the regexp chain (single-row-group scan ⇒
      // 1-task narrow map otherwise — measured 8x at 10x data), and
      // strip ONCE: ratio derives from the kept stripped column via
      // the two-arg overload instead of re-running the chain.
      Dedup.spreadWide(docs.select(col("doc_id"), raw.as("__raw")))
        .select(col("doc_id"), col("__raw"),
          analysis.strip_markup(col("__raw")).as("text"))
        .select(col("doc_id"), col("text"),
          round(analysis.markup_ratio(col("__raw"), col("text")), 6)
            .as("markup_ratio"))
        .orderBy("doc_id")
    },

    // ---- Per-source cap (RefinedWeb/CCNet per-domain cap) through
    // the SKEW-PROOF two-stage salted top-k. Selection order is the
    // shared md5 convention, so the oracle replays the whole thing
    // with a single window and ZERO exported state — the salted
    // two-stage is output-identical to the plain cap by construction.
    "q120_source_cap" -> { (s, dir) =>
      Split.capPerStratum(Tables.documents(s, dir),
          strata = col("source"), key = col("doc_id"), cap = 15, salts = 8)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    },

    // ---- Hard-negative mining (DPR/ANCE): per anchor, the top-5
    // most-similar vectors in the cosine band [0.3, 0.8) — similar
    // enough to be hard, below the near-duplicate zone. Pairs come from
    // the cell-pruned similarPairsApprox, whose exact-output guarantee
    // the brute-force DuckDB replay verifies end-to-end.
    "q121_hard_negatives" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        .withColumn("embedding", col("embedding").cast("array<double>"))
        .filter(!exists(col("embedding"), x => isnan(x)))
      Similarity.hardNegatives(emb, "vec_id", "embedding",
          lo = 0.3, hi = 0.8, k = 5)
        .select(col("anchor_id"), col("neg_id"), col("sim"), col("rank"))
        .orderBy("anchor_id", "rank")
    },

    // ---- Concat-then-chunk example assembly (GPT-style loader):
    // per (lang, shard) the char stream is cut into examples of
    // EXACTLY 2048, documents splitting across boundaries — one row
    // per (doc, example) segment. q70 is the no-split first-fit
    // sibling. Pure window + bounded-explode integer arithmetic,
    // fully replayed.
    "q122_chunk_concat" -> { (s, dir) =>
      val shard = pmod(col("doc_id"), lit(4)).cast("long")
      Split.chunkConcat(Tables.documents(s, dir), key = col("doc_id"),
          cost = col("n_chars"), ctx = 2048L,
          strata = Seq(col("lang"), shard))
        .select(col("doc_id"), col("lang"), shard.as("shard"),
          col("chunk_id"), col("seg_begin"), col("seg_len"),
          col("chunk_offset"))
        .orderBy("doc_id", "chunk_id")
    },

    // ---- URL-level dedup (the CCNet step BEFORE content dedup): two
    // fetches of one page are trivially duplicates — catch them by
    // canonical URL for free. URLs are synthesized deterministically
    // on both sides (the q82/q119 pattern): four variants per group —
    // host case, default port + fragment, tracking params, trailing
    // slash + ref — all collapsing to one canonical form; keep the
    // lowest doc_id per canonical URL with the variant count.
    "q123_url_dedup" -> { (s, dir) =>
      val g = floor(col("doc_id") / 4).cast("long").cast("string")
      val v = pmod(col("doc_id"), lit(4))
      val url = when(v === 0, concat(lit("https://EXAMPLE.com/articles/"), g))
        .when(v === 1, concat(lit("https://example.com:443/articles/"), g,
          lit("#section-2")))
        .when(v === 2, concat(lit("https://example.com/articles/"), g,
          lit("?utm_source=feed&gclid=abc")))
        .otherwise(concat(lit("https://example.com/articles/"), g,
          lit("/?ref=home")))
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("canonical_url"))
      val withUrl = Tables.documents(s, dir)
        .select(col("doc_id"), url.as("url"))
        .withColumn("canonical_url", analysis.canonicalize_url(col("url")))
        .withColumn("n_variants", count(lit(1)).over(wp))
      Dedup.keepBestWindow(withUrl, col("canonical_url"),
          Seq(col("doc_id").asc))
        .select(col("canonical_url"), col("doc_id"), col("n_variants"))
        .orderBy("canonical_url", "doc_id")
    },

    // ---- ANN hard-negative mining (the 100 TB path — q121's exact
    // band enumeration measured 61x wall at 30x; this is how ANCE/
    // RocketQA actually mine). Hyperplane signatures are exported
    // seeded state (the q95 pattern); DuckDB replays bucket-collision
    // candidates, raw-sim top-probeK, rounded band + final re-rank.
    "q124_hard_negatives_ann" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        .filter(!exists(col("embedding"), x => isnan(x)))
      val sigStructs = (0 until 4).map(t =>
        struct(lit(t).as("t"),
          Similarity.hyperplaneSignature(col("embedding"), bits = 8,
            seed = 42L + t).as("sig")))
      emb.select(col("vec_id"), explode(array(sigStructs: _*)).as("__s"))
        .select(col("vec_id"), col("__s.t"), col("__s.sig"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q124_sigs")
      Similarity.hardNegativesAnn(emb, "vec_id", "embedding",
          lo = 0.3, hi = 0.8, k = 5, probeK = 40, bits = 8, tables = 4)
        .orderBy("anchor_id", "rank")
    },

    // ---- Model-based quality scoring: self-trained multinomial
    // Naive-Bayes token classifier — the fasttext/CCNet-style learned
    // quality gate that follows rule gates in LLM curation. A cheap
    // deterministic heuristic (n_chars >= 300) bootstraps labels; the
    // classifier turns them into a Laplace-smoothed per-token LLR
    // dictionary and a per-doc log-odds score. Pure counting, no
    // seed — DuckDB replays it exactly.
    "q125_quality_classifier" -> { (s, dir) =>
      Classifier.nbQualityScore(Tables.documents(s, dir),
          "doc_id", col("text"), col("n_chars") >= 300)
        .orderBy("doc_id")
    },

    // ---- The same classifier through the MAP-SIDE scoring kernel:
    // dictionary + prior collected once (vocabulary-sized / one row),
    // scoring is a single codegen'd projection with zero exchanges —
    // the at-scale and streaming path (train once, score 100 TB for
    // the cost of a scan). Same oracle as q125: the two paths must
    // produce identical rows at the round-4 surface.
    "q126_quality_gate_mapside" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val label = col("n_chars") >= 300
      val (keys, weights) =
        Classifier.collectDict(Classifier.nbTrain(docs, col("text"), label))
      val prior = Classifier.collectPrior(docs, label)
      Classifier.nbScoreMapSide(docs, "doc_id", col("text"),
          keys, weights, prior)
        .orderBy("doc_id")
    },

    // ---- Release manifest: write a lang-partitioned release, then
    // roll up per partition (files, bytes, rows) from the file
    // listing + one grouped count — the audit artifact a dataset
    // release ships (fileManifest adds per-file SHA-256, which DuckDB
    // 1.0 can't replay over blobs, so the oracle gates the rollup).
    // Both engines read the SAME written files: physical sizes agree
    // by construction.
    "q127_release_manifest" -> { (s, dir) =>
      val out = s"${stateDir(dir)}/q127_release"
      Tables.documents(s, dir)
        .repartition(col("lang"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      sources.CorpusIO.releaseManifest(s, out, "lang")
        .orderBy("lang")
    },

    // ---- Per-language quality classifiers in one pass (the CCNet
    // stance: a separate model per language, so a common token in
    // lang A never scores lang B's docs). Same pure-counting
    // semantics as q125, with stratum-local totals, vocabularies and
    // priors — DuckDB retrains all five models in one SQL replay.
    "q128_quality_classifier_per_lang" -> { (s, dir) =>
      Classifier.nbQualityScoreStratified(Tables.documents(s, dir),
          "doc_id", col("lang"), col("text"), col("n_chars") >= 300)
        .orderBy("doc_id")
    },

    // ---- Winnowing fingerprints (Schleimer et al., SIGMOD'03): the
    // bounded-density local fingerprinting guarantee — any shared run
    // of ≥ k+w−1 words shares a fingerprint. Portable md5-prefix gram
    // hash, so the oracle replays the rightmost-min selection exactly.
    "q129_winnow_fingerprints" -> { (s, dir) =>
      Winnow.fingerprints(Tables.documents(s, dir), "doc_id", col("text"),
          k = 4, w = 4)
        .orderBy("doc_id", "pos")
    },

    // ---- Fingerprint-overlap candidates: posting self-join on the
    // LONG fingerprint with the df-cap boilerplate guardrail.
    "q130_winnow_overlap" -> { (s, dir) =>
      Winnow.overlapPairs(Tables.documents(s, dir), "doc_id", col("text"),
          k = 4, w = 4, minShared = 2, maxDf = 64)
        .orderBy("id_a", "id_b")
    },

    // ---- n-gram novelty: each distinct 4-gram is owned by its
    // smallest doc_id; novelty = owned fraction — the data-valuation
    // signal behind dedup-aware selection. Digest-keyed in the engine,
    // gram-string-keyed in the oracle (identical partition of grams).
    "q131_ngram_novelty" -> { (s, dir) =>
      Stats.ngramNovelty(Tables.documents(s, dir), "doc_id", col("text"),
          n = 4)
        .orderBy("doc_id")
    },

    // ---- DoReMi-style mixture update: one multiplicative-weights
    // step over per-source mean excess loss. n_chars as the loss
    // keeps every sum integer-exact (order-independent), so the
    // update is bit-reproducible; eta is scaled to the char-count
    // loss magnitude.
    "q132_domain_reweight" -> { (s, dir) =>
      Split.domainReweight(Tables.documents(s, dir), col("source"),
          col("n_chars"), eta = 0.01, smoothing = 0.01)
        .orderBy("domain")
    },

    // ---- End-to-end MOSS-style dedup: winnowing overlap pairs →
    // connected components → keep the best-QUALITY representative
    // per cluster (longest doc, min-id tie-break) — the
    // representative-selection composition the cluster family exists
    // for, driven by the fingerprint detector instead of MinHash.
    "q134_winnow_dedup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val pairs = Winnow.overlapPairs(docs, "doc_id", col("text"),
        k = 4, w = 4, minShared = 2, maxDf = 64)
      DupClusters.clusterDedup(docs, "doc_id", pairs,
          order = Seq(col("n_chars"), col("doc_id") * -1))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // ---- Native winnowing kernel: the map-side WinnowFps expression
    // (grams → md5-prefix hashes → rightmost-min selection in ONE
    // codegen'd call, zero exchanges) against the same SQL replay
    // that gates the window-function formulation (q129).
    "q136_winnow_fps_native" -> { (s, dir) =>
      // spreadWide first: the single-row-group test parquet scans as
      // one task, and the kernel fuses into the scan stage — without
      // the repartition all hashing runs on one core
      Dedup.spreadWide(Tables.documents(s, dir).select("doc_id", "text"))
        .select(col("doc_id"),
          explode(Winnow.fingerprintSet(col("text"), k = 4, w = 4)).as("fp"))
        .orderBy("doc_id", "fp")
    },

    // ---- Recurring winnow overlap: batch docs probed against the
    // persisted bucketed fingerprint postings — "does this crawl
    // batch re-serve anything we already hold?" at batch cost.
    "q135_winnow_incremental" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val path = s"${stateDir(dir)}/q135_state"
      s.sql("DROP TABLE IF EXISTS graft_q135_fps")
      Incremental.writeFingerprintTable(docs.filter(col("doc_id") < 400),
        "doc_id", col("text"), "graft_q135_fps", path,
        k = 4, w = 4, maxDf = 64, numBuckets = 8)
      Incremental.overlapAgainstTable(docs.filter(col("doc_id") >= 400),
          "doc_id", col("text"), s.table("graft_q135_fps"),
          k = 4, w = 4, minShared = 2)
        .orderBy("doc_id", "corpus_id")
    },

    // ---- Takedown propagated to derived state: tombstone the
    // retracted corpus ids, blue/green-compact the fingerprint
    // posting table, and probe the crawl batch against the LIVE
    // table — retracted documents can no longer be matched, the
    // opt-out guarantee a training pipeline owes its sources.
    "q137_takedown_compact" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val base = s"${stateDir(dir)}/q137_state"
      Seq("graft_q137_fps", "graft_q137_tomb", "graft_q137_fps_live")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      Incremental.writeFingerprintTable(docs.filter(col("doc_id") < 400),
        "doc_id", col("text"), "graft_q137_fps", s"$base/fps",
        k = 4, w = 4, maxDf = 64, numBuckets = 8)
      Incremental.writeTombstones(
        docs.filter(col("doc_id") < 400 && col("doc_id") % 7 === 0),
        "doc_id", "graft_q137_tomb", s"$base/tomb", numBuckets = 4)
      Incremental.compactState(s.table("graft_q137_fps"), "corpus_id",
        s.table("graft_q137_tomb"), "graft_q137_fps_live",
        s"$base/fps_live", Seq("fp"), numBuckets = 8)
      Incremental.overlapAgainstTable(docs.filter(col("doc_id") >= 400),
          "doc_id", col("text"), s.table("graft_q137_fps_live"),
          k = 4, w = 4, minShared = 2)
        .orderBy("doc_id", "corpus_id")
    },

    // ---- Incremental classifier: the NB count log built on the
    // first corpus half, grown by the second half with ONE
    // batch-sized append, dictionary derived bucket-local from the
    // state — and the scores must hash-match q125's from-scratch
    // retrain over the full corpus (the merge ≡ retrain guarantee).
    "q139_incremental_classifier" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val label = col("n_chars") >= 300
      val base = s"${stateDir(dir)}/q139_state"
      s.sql("DROP TABLE IF EXISTS graft_q139_nb")
      Incremental.writeNbCounts(docs.filter(col("doc_id") < 400),
        col("text"), label, "graft_q139_nb", base, numBuckets = 8)
      Incremental.appendNbCounts(docs.filter(col("doc_id") >= 400),
        col("text"), label, "graft_q139_nb", numBuckets = 8)
      val dict = Incremental.nbDictFromTable(s.table("graft_q139_nb"))
      val prior = Classifier.collectPrior(docs, label)
      Classifier.nbScore(docs, "doc_id", col("text"), dict, lit(prior))
        .orderBy("doc_id")
    },

    // ---- Incremental retrieval index: BM25 postings built on the
    // even half, grown by the odd half with ONE batch-sized append;
    // the probe is bucket-PRUNED to the query's terms and never
    // touches corpus text — and must hash-match q54's from-scratch
    // BM25 over the full corpus (append ≡ rebuild).
    "q140_incremental_bm25" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val base = s"${stateDir(dir)}/q140_state"
      s.sql("DROP TABLE IF EXISTS graft_q140_post")
      s.sql("DROP TABLE IF EXISTS graft_q140_stats")
      Incremental.writePostings(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", col("text"), "graft_q140_post", s"$base/post", numBuckets = 8)
      Incremental.appendPostings(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", col("text"), "graft_q140_post", numBuckets = 8)
      Incremental.writeIndexStats(docs.filter(col("doc_id") % 2 === 0),
        col("text"), "graft_q140_stats", s"$base/stats")
      Incremental.appendIndexStats(docs.filter(col("doc_id") % 2 === 1),
        col("text"), "graft_q140_stats")
      Incremental.bm25AgainstIndex(s.table("graft_q140_post"),
        s.table("graft_q140_stats"), "doc_id",
        queryTerms = Seq("spark", "shuffle", "join"), k = 20)
    },

    // ---- BM25 takedown epilogue: postings compact (tombstoned docs'
    // rows removed physically), then the stats log REBUILDS from the
    // retained postings — without the rebuild the append-only log
    // still counts retracted docs and N/avgdl drift high. The oracle
    // replays BM25 over the retained corpus with postings-derived
    // stats (docs with ≥ 1 token — the rebuild's stated contract).
    "q149_bm25_takedown_rebuild" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val base = s"${stateDir(dir)}/q149_state"
      Seq("graft_q149_post", "graft_q149_post2", "graft_q149_stats2",
        "graft_q149_tomb").foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      Incremental.writePostings(docs, "doc_id", col("text"),
        "graft_q149_post", s"$base/post", numBuckets = 8)
      Incremental.writeTombstones(
        docs.filter(col("doc_id") % 6 === 0).select("doc_id"), "doc_id",
        "graft_q149_tomb", s"$base/tomb")
      Incremental.compactState(s.table("graft_q149_post"), "doc_id",
        s.table("graft_q149_tomb"), "graft_q149_post2", s"$base/post2",
        bucketCols = Seq("term"), numBuckets = 8)
      Incremental.rebuildIndexStats(s.table("graft_q149_post2"), "doc_id",
        "graft_q149_stats2", s"$base/stats2")
      Incremental.bm25AgainstIndex(s.table("graft_q149_post2"),
        s.table("graft_q149_stats2"), "doc_id",
        queryTerms = Seq("spark", "shuffle", "join"), k = 20)
    },

    // ---- Multimodal image near-dup: REAL javax.imageio decode of a
    // deterministic synthetic PNG corpus (scene = doc_id/3, so ids
    // sharing a scene are planted 3×3-patch variants ≤ 6 dHash bits
    // apart; every 97th payload is corrupt and must quarantine, not
    // throw). The dHash signatures are the exported seeded state; the
    // oracle replays the ALL-PAIRS Hamming-≤-8 + keep-lowest-id
    // anti-join over them (the pigeonhole banding GUARANTEES the
    // engine's drop set equals brute force — the q72 pattern).
    "q141_image_near_dedup" -> { (s, dir) =>
      val imgs = Images.syntheticCorpus(
        Tables.documents(s, dir).select("doc_id"), "doc_id",
        variantsPerScene = 3, corruptEvery = 97)
      Images.imageSignatures(imgs, "doc_id", col("content"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q141_sigs")
      val sigs = s.read.parquet(s"${stateDir(dir)}/q141_sigs")
      val dupIds = Dedup.hammingDupIds(sigs, "doc_id", "dhash", maxHamming = 8)
      sigs.select("doc_id", "decoded", "width", "height")
        .join(dupIds, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },

    // ---- PDF source end-to-end (S14): synthesize one two-page PDF
    // per sampled doc (page 1 = the doc's text, page 2 a
    // deterministic footer; real Flate compression + xref), re-read
    // the directory through the binaryFile scan + content-stream
    // extractor, and emit the PARSED rows. The oracle never sees the
    // parser — it recomputes expected (text, pages, ok) straight from
    // the documents table, so extraction is hash-checked against
    // source-of-truth text end to end (the ParitySpec stance).
    "q142_pdf_scan" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 0 && col("text").isNotNull &&
          length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
      val pdfDir = s"${stateDir(dir)}/q142_pdfs"
      val rows = docs.as[(Long, String)].map { case (id, text) =>
        (f"doc_$id%08d", Seq(text, s"doc $id page 2"))
      }
      sources.Pdf.writePdfDir(rows, pdfDir)
      sources.Pdf.readPdfDir(s, pdfDir).toDF()
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.pdf$", 1)
            .cast("long").as("doc_id"),
          col("pdf_text"), col("pdf_pages"), col("pdf_ok"))
        .orderBy("doc_id")
    },

    // ---- Modern-PDF source end-to-end (the PDF 1.5 envelope): same
    // recompute-from-documents oracle as q142, but the synthesized
    // files use cross-reference STREAMS (PNG Up predictor) + /Type
    // /ObjStm object streams, with content streams deliberately laid
    // out in REVERSED file order — only a genuine xref walk (page
    // TREE order) reproduces the oracle's page join; the pre-walk
    // lexical scan would hash-mismatch on every multi-page file.
    "q153_pdf_xref_stream_scan" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 5 && col("text").isNotNull &&
          length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
      val pdfDir = s"${stateDir(dir)}/q153_pdfs"
      val rows = docs.as[(Long, String)].map { case (id, text) =>
        (f"doc_$id%08d", Seq(text, s"doc $id page 2"))
      }
      sources.Pdf.writePdfDir(rows, pdfDir, modern = true)
      sources.Pdf.readPdfDir(s, pdfDir).toDF()
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.pdf$", 1)
            .cast("long").as("doc_id"),
          col("pdf_text"), col("pdf_pages"), col("pdf_ok"))
        .orderBy("doc_id")
    },

    // ---- CID-font PDF source end-to-end (the ToUnicode envelope):
    // same recompute-from-documents oracle as q142/q153, but every
    // page's text shows through a Type0 (CID-keyed) font as 2-byte
    // synthetic character codes in hex strings — NOTHING in the file
    // is Latin-1-readable text; only parsing the font's compressed
    // /ToUnicode CMap (resolved through the INHERITED /Resources on
    // the Pages node) recovers it. The scanned-book-corpus layout
    // pdfplumber maps (reference pipeline/ingestion/drivers.py:33-50).
    "q163_pdf_cid_tounicode_scan" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 1 && col("text").isNotNull &&
          length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
      val pdfDir = s"${stateDir(dir)}/q163_pdfs"
      val rows = docs.as[(Long, String)].map { case (id, text) =>
        (f"doc_$id%08d", Seq(text, s"doc $id page 2"))
      }
      sources.Pdf.writePdfDir(rows, pdfDir, cid = true)
      sources.Pdf.readPdfDir(s, pdfDir).toDF()
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.pdf$", 1)
            .cast("long").as("doc_id"),
          col("pdf_text"), col("pdf_pages"), col("pdf_ok"))
        .orderBy("doc_id")
    },

    // ---- LZW-filtered PDF source: same recompute-from-documents
    // oracle; the content streams are LZWDecode (variable-width
    // early-change codes — the pre-Flate filter old scanned corpora
    // still carry), so only a working LZW codec reproduces the text.
    "q165_pdf_lzw_scan" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 2 && col("text").isNotNull &&
          length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
      val pdfDir = s"${stateDir(dir)}/q165_pdfs"
      val rows = docs.as[(Long, String)].map { case (id, text) =>
        (f"doc_$id%08d", Seq(text, s"doc $id page 2"))
      }
      sources.Pdf.writePdfDir(rows, pdfDir, lzw = true)
      sources.Pdf.readPdfDir(s, pdfDir).toDF()
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.pdf$", 1)
            .cast("long").as("doc_id"),
          col("pdf_text"), col("pdf_pages"), col("pdf_ok"))
        .orderBy("doc_id")
    },

    // ---- /Encoding /Differences PDF source: a simple font with a
    // SHUFFLED single-byte code assignment and no /ToUnicode — the
    // bytes on disk spell nothing; only mapping codes through the
    // Differences glyph names recovers the text. Page 2 carries
    // Greek/Cyrillic/typographic glyphs whose Differences entries use
    // their AGL NAMES (alpha, afii10078, Euro, …), so the oracle only
    // matches through the full Adobe-Glyph-List table, not the
    // numeric uniXXXX decode.
    "q166_pdf_differences_scan" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 3 && col("text").isNotNull &&
          length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
      val pdfDir = s"${stateDir(dir)}/q166_pdfs"
      val rows = docs.as[(Long, String)].map { case (id, text) =>
        (f"doc_$id%08d", Seq(text, s"doc $id page 2 αΩ жЯ €“½ß”"))
      }
      sources.Pdf.writePdfDir(rows, pdfDir, differences = true)
      sources.Pdf.readPdfDir(s, pdfDir).toDF()
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.pdf$", 1)
            .cast("long").as("doc_id"),
          col("pdf_text"), col("pdf_pages"), col("pdf_ok"))
        .orderBy("doc_id")
    },

    // ---- RC4-encrypted PDF source (Standard handler V2/R3, empty
    // user password — the owner-locked shape): every content stream
    // is ciphertext on disk; the /U-verified key derivation plus
    // per-object RC4 is the only way back to the text.
    "q167_pdf_encrypted_scan" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 4 && col("text").isNotNull &&
          length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
      val pdfDir = s"${stateDir(dir)}/q167_pdfs"
      val rows = docs.as[(Long, String)].map { case (id, text) =>
        (f"doc_$id%08d", Seq(text, s"doc $id page 2"))
      }
      sources.Pdf.writePdfDir(rows, pdfDir, encrypted = true)
      sources.Pdf.readPdfDir(s, pdfDir).toDF()
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.pdf$", 1)
            .cast("long").as("doc_id"),
          col("pdf_text"), col("pdf_pages"), col("pdf_ok"))
        .orderBy("doc_id")
    },

    // ---- AES-encrypted PDF source (Standard handler, empty user
    // password): half the corpus is V4/R4 /CFM /AESV2 (AES-128-CBC,
    // per-object sAlT keys), half V5/R6 /CFM /AESV3 (AES-256-CBC,
    // Algorithm-2.B /U verification + /UE key unwrap) — the modern
    // owner-locked scan shapes RC4 deprecated into. Every content
    // stream is CBC ciphertext behind a 16-byte IV; only a correct
    // byte-level key derivation + decrypt reproduces the text.
    "q168_pdf_aes_scan" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 6 && col("text").isNotNull &&
          length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
      val rows = docs.as[(Long, String)].map { case (id, text) =>
        (f"doc_$id%08d", Seq(text, s"doc $id page 2"), (id / 10) % 2 == 0)
      }
      val dirV2 = s"${stateDir(dir)}/q168_pdfs_aesv2"
      val dirV3 = s"${stateDir(dir)}/q168_pdfs_aesv3"
      sources.Pdf.writePdfDir(
        rows.filter(_._3).map(r => (r._1, r._2)), dirV2,
        encrypted = true, encryptMode = "aesv2")
      sources.Pdf.writePdfDir(
        rows.filter(!_._3).map(r => (r._1, r._2)), dirV3,
        encrypted = true, encryptMode = "aesv3")
      sources.Pdf.readPdfDir(s, dirV2).unionByName(
        sources.Pdf.readPdfDir(s, dirV3)).toDF()
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.pdf$", 1)
            .cast("long").as("doc_id"),
          col("pdf_text"), col("pdf_pages"), col("pdf_ok"))
        .orderBy("doc_id")
    },

    // ---- Predefined-CMap PDF source: Type0 /Encoding /Identity-H
    // with NO /ToUnicode — 2-byte codes ARE the UTF-16 units (the
    // subset-writer shape). Nothing on disk is Latin-1-readable and
    // no embedded CMap exists; only the predefined-Identity fallback
    // recovers the text (registry CMaps read honest-empty instead).
    "q169_pdf_identity_cid_scan" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 7 && col("text").isNotNull &&
          length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
      val pdfDir = s"${stateDir(dir)}/q169_pdfs"
      val rows = docs.as[(Long, String)].map { case (id, text) =>
        (f"doc_$id%08d", Seq(text, s"doc $id page 2"))
      }
      sources.Pdf.writePdfDir(rows, pdfDir, cidPredefined = true)
      sources.Pdf.readPdfDir(s, pdfDir).toDF()
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.pdf$", 1)
            .cast("long").as("doc_id"),
          col("pdf_text"), col("pdf_pages"), col("pdf_ok"))
        .orderBy("doc_id")
    },

    // ---- Registry-CMap PDF source: Type0 fonts naming a PREDEFINED
    // REGISTRY CMap (no /ToUnicode). One half uses UniGB-UCS2-H —
    // whose code space IS Unicode (ISO 32000 9.7.5.2), so CJK text
    // must round-trip exactly with no bundled CID table; the other
    // half uses GBK-EUC-H — a non-Unicode code space this engine does
    // not ship tables for, which must read HONEST-EMPTY (ok, zero
    // pages, never mojibake). The oracle recomputes both halves from
    // the documents table.
    "q171_pdf_registry_cmap_scan" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 8 && col("text").isNotNull &&
          length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
      val dirUni = s"${stateDir(dir)}/q171_pdfs_ucs2"
      val dirEuc = s"${stateDir(dir)}/q171_pdfs_euc"
      val rows = docs.as[(Long, String)].map { case (id, text) =>
        (f"doc_$id%08d", Seq(text, s"doc $id page 2 漢字 中文 한글"),
          id % 20 == 8)
      }
      sources.Pdf.writePdfDir(
        rows.filter(_._3).map(r => (r._1, r._2)), dirUni,
        cidPredefined = true, cidRegistry = "UniGB-UCS2-H")
      sources.Pdf.writePdfDir(
        rows.filter(!_._3).map(r => (r._1, r._2)), dirEuc,
        cidPredefined = true, cidRegistry = "GBK-EUC-H")
      sources.Pdf.readPdfDir(s, dirUni).unionByName(
        sources.Pdf.readPdfDir(s, dirEuc)).toDF()
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.pdf$", 1)
            .cast("long").as("doc_id"),
          col("pdf_text"), col("pdf_pages"), col("pdf_ok"))
        .orderBy("doc_id")
    },

    // ---- Multimodal audio near-dup: REAL RIFF/PCM decode of a
    // deterministic synthetic WAV corpus (scene = doc_id/3, planted
    // 3-frame variants ≤ 4 eHash bits apart; every 97th payload
    // corrupt → quarantined). The gain-invariant energy-contour
    // signatures are the exported seeded state; the oracle replays
    // the ALL-PAIRS Hamming-≤-8 + keep-lowest-id anti-join over them
    // (exact by the pigeonhole guarantee — the q72/q141 pattern).
    "q143_audio_near_dedup" -> { (s, dir) =>
      val clips = operators.Audio.syntheticCorpus(
        Tables.documents(s, dir).select("doc_id"), "doc_id",
        variantsPerScene = 3, corruptEvery = 97)
      operators.Audio.audioSignatures(clips, "doc_id", col("content"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q143_sigs")
      val sigs = s.read.parquet(s"${stateDir(dir)}/q143_sigs")
      val dupIds = Dedup.hammingDupIds(sigs, "doc_id", "ehash", maxHamming = 8)
      sigs.select("doc_id", "decoded", "sample_rate", "duration_ms")
        .join(dupIds, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },

    // ---- Multimodal video near-dup: REAL MJPEG-in-AVI decode of a
    // deterministic synthetic clip corpus (scene = doc_id/3; variants
    // rewrite 2 of 8 frames → partial overlap, 3 of 4 sampled
    // positions; every 97th payload corrupt → no frame rows →
    // survives). Clips match when ≥ 2 sampled positions are pairwise
    // within 8 dHash bits. The per-frame signatures are the exported
    // seeded state; DuckDB replays the position-aligned pair counting
    // and the keep-lowest-id dedup in full.
    "q145_video_near_dedup" -> { (s, dir) =>
      val clips = operators.Video.syntheticCorpus(
        Tables.documents(s, dir).select("doc_id"), "doc_id",
        variantsPerScene = 3, corruptEvery = 97)
      operators.Video.frameSignatures(clips, "doc_id", col("content"),
          everyNth = 2)
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q145_sigs")
      val sigs = s.read.parquet(s"${stateDir(dir)}/q145_sigs")
      val dupIds = operators.Video.clipNearDupPairs(sigs, "doc_id",
          maxHamming = 8, minFrames = 2)
        .select(col("id_b").as("doc_id")).distinct()
      Tables.documents(s, dir).select("doc_id")
        .join(dupIds, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },

    // ---- Sharded batch Hamming self-join: the >10⁶-signature escape
    // hatch made real — an orthogonal shard key (here: source blocks
    // of 30 ids; scenes are 3 ids so no scene straddles a boundary)
    // folds into the band join key and bounds the quadratic term to
    // each shard's n. Cross-shard pairs are DECLARED out of scope
    // (the semantic is per-source dedup); the oracle replays the
    // within-shard all-pairs decision over the exported signatures.
    "q148_audio_sharded_neardup" -> { (s, dir) =>
      val clips = operators.Audio.syntheticCorpus(
        Tables.documents(s, dir).select("doc_id"), "doc_id",
        variantsPerScene = 3, corruptEvery = 97)
      operators.Audio.audioSignatures(clips, "doc_id", col("content"))
        .withColumn("source", expr("doc_id div 30"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q148_sigs")
      val sigs = s.read.parquet(s"${stateDir(dir)}/q148_sigs")
      val dupIds = Dedup.hammingDupIds(sigs, "doc_id", "ehash",
          maxHamming = 8, shardCols = Seq("source"))
      sigs.select("doc_id", "decoded", "source")
        .join(dupIds, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },

    // ---- The media wave loop END TO END: Spark runs the RECURRING
    // form (two id-ordered waves through IngestCli.ingestMediaWave —
    // decode, in-wave Hamming dedup, probe vs persisted state, state
    // append, gold append) while the oracle replays the FROM-SCRATCH
    // batch semantics over the exported signatures. Equal outputs ARE
    // the wave ≡ batch equivalence guarantee, checked cross-engine —
    // unconditional for Hamming (exact pigeonhole pairs, no
    // big-bucket caveat), given id-ordered waves (the CDC shape).
    "q146_media_wave_ingest" -> { (s, dir) =>
      // LAZY checkpoint mark (here and in q150/q151/q152): the first
      // consumer is the single-subtree signature-export write, which
      // scans every partition exactly once — it materializes the
      // blocks as a side effect, so mark+materialize costs no
      // dedicated job and later consumers (waves, gold) read blocks.
      val corpus = operators.Images.syntheticCorpus(
          Tables.documents(s, dir).select("doc_id"), "doc_id",
          variantsPerScene = 3, corruptEvery = 97)
        .localCheckpoint(eager = false)
      operators.Images.imageSignatures(corpus, "doc_id", col("content"))
        .select(col("doc_id"), col("decoded"), col("dhash"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q146_sigs")
      val mid = corpus.agg(max(col("doc_id")) / 2).head().getDouble(0)
      val st = IngestCli.initMediaState(s, "graft_q146_media",
        s"${stateDir(dir)}/q146_state", maxHamming = 8, numBuckets = 8)
      IngestCli.ingestMediaWave(s, st, corpus.filter(col("doc_id") <= mid), 1)
      IngestCli.ingestMediaWave(s, st, corpus.filter(col("doc_id") > mid), 2)
      s.read.parquet(st.goldPath).select("doc_id").orderBy("doc_id")
    },

    // ---- Media takedown + state REBUILD, end to end: wave 1 ingests
    // bases + first variants (variants drop seen-not-kept), takedown
    // retracts every even scene's base, rebuildMediaState re-derives
    // the Hamming state from RETAINED GOLD (chain-dropped variant sigs
    // vanish with their anchors), wave 2 ingests second variants —
    // admitted exactly where the whole scene was forgotten. The oracle
    // replays every decision from the exported signatures.
    "q151_media_takedown_rebuild" -> { (s, dir) =>
      val corpus = operators.Images.syntheticCorpus(
          Tables.documents(s, dir).select("doc_id"), "doc_id",
          variantsPerScene = 3, corruptEvery = 97)
        .localCheckpoint(eager = false)
      operators.Images.imageSignatures(corpus, "doc_id", col("content"))
        .select(col("doc_id"), col("decoded"), col("dhash"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q151_sigs")
      var st = IngestCli.initMediaState(s, "graft_q151_media",
        s"${stateDir(dir)}/q151_state", maxHamming = 8, numBuckets = 8)
      IngestCli.ingestMediaWave(s, st, corpus.filter(col("doc_id") % 3 < 2), 1)
      st = IngestCli.applyMediaTakedown(s, st,
        Tables.documents(s, dir).select("doc_id")
          .filter(col("doc_id") % 6 === 0))
      st = IngestCli.rebuildMediaState(s, st, IngestCli.defaultImageSigner,
        IngestCli.ImageSignerName)
      IngestCli.ingestMediaWave(s, st, corpus.filter(col("doc_id") % 3 === 2), 2)
      s.read.parquet(st.goldPath).select("doc_id").orderBy("doc_id")
    },

    // ---- q151's shape for CLIPS: positional-state takedown + rebuild
    // with the per-pair distinct-position contract replayed in full.
    "q152_video_takedown_rebuild" -> { (s, dir) =>
      val corpus = operators.Video.syntheticCorpus(
          Tables.documents(s, dir).select("doc_id"), "doc_id",
          variantsPerScene = 3, corruptEvery = 97)
        .localCheckpoint(eager = false)
      operators.Video.frameSignatures(corpus, "doc_id", col("content"),
          everyNth = 2)
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q152_sigs")
      var st = IngestCli.initVideoState(s, "graft_q152_video",
        s"${stateDir(dir)}/q152_state", maxHamming = 8, minFrames = 2,
        everyNth = 2, numBuckets = 8)
      IngestCli.ingestVideoWave(s, st, corpus.filter(col("doc_id") % 3 < 2), 1)
      st = IngestCli.applyVideoTakedown(s, st,
        Tables.documents(s, dir).select("doc_id")
          .filter(col("doc_id") % 6 === 0))
      st = IngestCli.rebuildVideoState(s, st)
      IngestCli.ingestVideoWave(s, st, corpus.filter(col("doc_id") % 3 === 2), 2)
      s.read.parquet(st.goldPath).select("doc_id").orderBy("doc_id")
    },

    // ---- Recurring VIDEO ingestion over the persisted POSITIONAL
    // Hamming state (q147's layout): the corpus arrives as two
    // id-ordered clip waves; each decodes once, probes state on
    // (frame_pos, band, bucket), drops clips matching ≥ 2 sampled
    // positions of any earlier admitted decoded clip, and appends its
    // frames (seen-not-kept). The exported per-frame signatures let
    // DuckDB replay the FROM-SCRATCH batch — matching outputs check
    // the wave ≡ batch guarantee cross-engine, positional edition.
    "q150_video_wave_ingest" -> { (s, dir) =>
      val corpus = operators.Video.syntheticCorpus(
          Tables.documents(s, dir).select("doc_id"), "doc_id",
          variantsPerScene = 3, corruptEvery = 97)
        .localCheckpoint(eager = false)
      operators.Video.frameSignatures(corpus, "doc_id", col("content"),
          everyNth = 2)
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q150_sigs")
      val mid = corpus.agg(max(col("doc_id")) / 2).head().getDouble(0)
      val st = IngestCli.initVideoState(s, "graft_q150_video",
        s"${stateDir(dir)}/q150_state", maxHamming = 8, minFrames = 2,
        everyNth = 2, numBuckets = 8)
      IngestCli.ingestVideoWave(s, st, corpus.filter(col("doc_id") <= mid), 1)
      IngestCli.ingestVideoWave(s, st, corpus.filter(col("doc_id") > mid), 2)
      s.read.parquet(st.goldPath).select("doc_id").orderBy("doc_id")
    },

    // ---- Persisted Hamming-signature state: the ONE incremental
    // layout for every 64-bit signature family (image dHash, audio
    // eHash, text SimHash). State built on ids ≡ 0 (mod 4), grown by
    // ids ≡ 2 with one batch-sized append, odd ids probed against it
    // (band-bucket equi-join, state bucket-aligned, popcount verify —
    // exact by pigeonhole). The signatures are the exported seeded
    // state; DuckDB replays the whole probe brute-force.
    "q144_incremental_hamming" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      docs.select(col("doc_id"), Dedup.simhashSignature(col("text")).as("sig"))
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q144_sigs")
      val sigs = s.read.parquet(s"${stateDir(dir)}/q144_sigs")
      val base = s"${stateDir(dir)}/q144_state"
      s.sql("DROP TABLE IF EXISTS graft_q144_hamming")
      Incremental.writeHammingState(sigs.filter(col("doc_id") % 4 === 0),
        "doc_id", "sig", "graft_q144_hamming", base, maxHamming = 8,
        numBuckets = 8)
      Incremental.appendHammingState(sigs.filter(col("doc_id") % 4 === 2),
        "doc_id", "sig", "graft_q144_hamming", maxHamming = 8, numBuckets = 8)
      Incremental.hammingDedupAgainstTable(sigs.filter(col("doc_id") % 2 === 1),
          "doc_id", "sig", s.table("graft_q144_hamming"), maxHamming = 8)
        .select("doc_id").orderBy("doc_id")
    },

    // ---- Persisted POSITIONAL Hamming state: the q144 layout for
    // the video modality — per-frame dHash rows keyed (frame_pos,
    // band, bucket), so a recurring video crawl probes batch-sized
    // state (clips match on ≥ 2 sampled positions within 8 bits)
    // instead of re-running the batch self-join every wave. State
    // built on clips ≡ 0 (mod 4), grown by ≡ 2 with one append, odd
    // clips probed; the per-frame signatures are the exported seeded
    // state and DuckDB replays the positional probe brute-force.
    // Corrupt odd clips have no frame rows and survive.
    "q147_video_frame_state" -> { (s, dir) =>
      val clips = operators.Video.syntheticCorpus(
        Tables.documents(s, dir).select("doc_id"), "doc_id",
        variantsPerScene = 3, corruptEvery = 97)
      operators.Video.frameSignatures(clips, "doc_id", col("content"),
          everyNth = 2)
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q147_sigs")
      val sigs = s.read.parquet(s"${stateDir(dir)}/q147_sigs")
      s.sql("DROP TABLE IF EXISTS graft_q147_frames")
      Incremental.writeFrameHammingState(sigs.filter(col("doc_id") % 4 === 0),
        "doc_id", "dhash", "graft_q147_frames",
        s"${stateDir(dir)}/q147_state", maxHamming = 8, numBuckets = 8,
        everyNth = 2)
      Incremental.appendFrameHammingState(sigs.filter(col("doc_id") % 4 === 2),
        "doc_id", "dhash", "graft_q147_frames", maxHamming = 8,
        numBuckets = 8, everyNth = 2)
      val dupIds = Incremental.frameHammingDupIdsAgainstTable(
        sigs.filter(col("doc_id") % 2 === 1), "doc_id", "dhash",
        s.table("graft_q147_frames"), maxHamming = 8, minFrames = 2,
        everyNth = 2)
      Tables.documents(s, dir).select("doc_id")
        .filter(col("doc_id") % 2 === 1)
        .join(dupIds, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },

    // ---- SHARDED positional Hamming state (q147 + the q148 shard
    // fold, persisted): the shard value — a per-clip constant (here
    // a deterministic source tag with a planted NULL stratum) — rides
    // the state's join key, so probe matches are sought only WITHIN
    // equal shard values and a (position, bucket) title-card cluster
    // enumerates per shard, Σn² → Σ(n/s)²·s. NULL shards fold to ONE
    // group (DuckDB replays via IS NOT DISTINCT FROM). Scenes the tag
    // splits (e.g. base 9 / variant 10 across 'a'/'b') SURVIVE the
    // probe here — the rows that hash-differ from q147 and prove the
    // within-shard contract end to end.
    "q154_video_frame_state_sharded" -> { (s, dir) =>
      val clips = operators.Video.syntheticCorpus(
        Tables.documents(s, dir).select("doc_id"), "doc_id",
        variantsPerScene = 3, corruptEvery = 97)
      val shardTag = when(col("doc_id") % 11 === 0, lit(null).cast("string"))
        .otherwise(when(col("doc_id") % 7 < 3, lit("a")).otherwise(lit("b")))
      operators.Video.frameSignatures(clips, "doc_id", col("content"),
          everyNth = 2)
        .withColumn("src", shardTag)
        .write.mode("overwrite").parquet(s"${stateDir(dir)}/q154_sigs")
      val sigs = s.read.parquet(s"${stateDir(dir)}/q154_sigs")
      s.sql("DROP TABLE IF EXISTS graft_q154_frames")
      Incremental.writeFrameHammingState(sigs.filter(col("doc_id") % 4 === 0),
        "doc_id", "dhash", "graft_q154_frames",
        s"${stateDir(dir)}/q154_state", maxHamming = 8, numBuckets = 8,
        everyNth = 2, shardCol = Some("src"))
      Incremental.appendFrameHammingState(sigs.filter(col("doc_id") % 4 === 2),
        "doc_id", "dhash", "graft_q154_frames", maxHamming = 8,
        numBuckets = 8, everyNth = 2, shardCol = Some("src"))
      val dupIds = Incremental.frameHammingDupIdsAgainstTable(
        sigs.filter(col("doc_id") % 2 === 1), "doc_id", "dhash",
        s.table("graft_q154_frames"), maxHamming = 8, minFrames = 2,
        everyNth = 2, shardCol = Some("src"))
      Tables.documents(s, dir).select("doc_id")
        .filter(col("doc_id") % 2 === 1)
        .join(dupIds, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },

    // ---- FULL-FIDELITY fingerprint rebuild (writeFingerprintTable
    // semantics over the retained corpus, as one takedown-cadence
    // operator): build on A (planted 12-word boilerplate run in every
    // 20th doc → its winnow-min gram's df = 15 > cap 8, EXCLUDED at
    // build), append B (3 more planted docs re-admit that gram with
    // partial postings — the cheap rebuildFingerprints residual),
    // tombstone every 7th id, then rebuild FROM RETAINED TEXT. The
    // oracle recomputes the whole table from documents: df re-counted
    // over retained, so the re-admitted gram re-excludes — the rows
    // that hash-differ from the state-sized rebuild and prove full
    // fidelity.
    "q155_fingerprint_full_rebuild" -> { (s, dir) =>
      val boiler = " px1 px2 px3 px4 px5 px6 px7 px8 px9 pxa pxb pxc"
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 400)
        .withColumn("text",
          when(col("doc_id") % 20 === 0 ||
              (col("doc_id") >= 300 && col("doc_id") % 31 === 0),
            concat(col("text"), lit(boiler))).otherwise(col("text")))
      val base = s"${stateDir(dir)}/q155_state"
      Seq("graft_q155_fps", "graft_q155_tomb", "graft_q155_fps_full")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      Incremental.writeFingerprintTable(docs.filter(col("doc_id") < 300),
        "doc_id", col("text"), "graft_q155_fps", s"$base/fps",
        k = 4, w = 4, maxDf = 8, numBuckets = 8)
      Incremental.appendFingerprints(docs.filter(col("doc_id") >= 300),
        "doc_id", col("text"), s.table("graft_q155_fps"),
        "graft_q155_fps", k = 4, w = 4, numBuckets = 8)
      Incremental.writeTombstones(docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "graft_q155_tomb", s"$base/tomb", numBuckets = 4)
      Incremental.rebuildFingerprintsFromCorpus(docs, "doc_id",
        col("text"), s.table("graft_q155_tomb"), "graft_q155_fps_full",
        s"$base/fps_full", k = 4, w = 4, maxDf = 8, numBuckets = 8)
      s.table("graft_q155_fps_full").orderBy("fp", "corpus_id")
    },

    // ---- Deterministic epoch shuffle: the training-order
    // permutation for epoch 3, computed with the q99 distributed
    // prefix-sum (no global window) — reproducible, addressable
    // (resume at epoch_pos >= P), portable (md5-prefix key, DuckDB
    // replays the permutation exactly).
    "q138_epoch_shuffle" -> { (s, dir) =>
      Split.epochOrder(Tables.documents(s, dir).select("doc_id"),
          col("doc_id"), epoch = 3, seed = 42L, buckets = 16)
        .select("doc_id", "shuffle_key", "epoch_pos")
        .orderBy("epoch_pos")
    },

    // ---- Incremental novelty: the recurring-crawl form of q131 —
    // batch docs probed against the persisted bucketed seen-gram
    // state (what did this snapshot actually add, per document?).
    "q133_incremental_novelty" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val path = s"${stateDir(dir)}/q133_state"
      s.sql("DROP TABLE IF EXISTS graft_q133_grams")
      Incremental.writeGramTable(docs.filter(col("doc_id") < 400),
        col("text"), 4, "graft_q133_grams", path, numBuckets = 8)
      Incremental.noveltyAgainstTable(docs.filter(col("doc_id") >= 400),
          "doc_id", col("text"), 4, s.table("graft_q133_grams"))
        .orderBy("doc_id")
    },

    // ---- Embedding GENERATION (the hashing trick): the engine-owned
    // text→vector map — the whole corpus embeds in one codegen'd scan,
    // no model, no shuffle. Dense exploded export shape; the oracle
    // replays the two code-point Horner hashes with a recursive CTE.
    "q156_hashed_embedding" -> { (s, dir) =>
      operators.Embed.embeddingRows(
          Tables.documents(s, dir), "doc_id", col("text"), dim = 64)
        .orderBy("doc_id", "dim")
    },

    // ---- End-to-end vector search from RAW TEXT: hash-embed the
    // corpus, then brute-force cosine top-3 for the German slice —
    // the J4 alignment story with no user-supplied embedding column
    // anywhere in the plan. The production path at corpus×corpus
    // scale swaps bruteForceTopK for Similarity.lshTopK unchanged.
    "q157_embed_knn" -> { (s, dir) =>
      val emb = operators.Embed.hashedEmbedding(
        Tables.documents(s, dir), col("text"), dim = 64)
        .select(col("doc_id"), col("lang"), col("embedding"))
      Similarity.bruteForceTopK(
          emb.drop("lang"),
          emb.filter(col("lang") === "de").drop("lang"),
          "doc_id", "embedding", k = 3)
        .orderBy("query_id", "rank")
    },

    // ---- Corpus drift monitoring: PSI between the last release
    // (doc_id < 250 stands in) and this wave, per bounded feature —
    // the standing "did the crawl change under us?" report every
    // recurring loop runs before promoting a wave to gold.
    "q158_drift_report" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Stats.driftReport(
          docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
          Seq("lang" -> col("lang"),
            "len_bucket" -> floor(col("n_chars") / lit(100)),
            "source" -> col("source")))
        .orderBy("feature", "bucket")
    },

    // ---- Token-stream drift: the top-64 reference vocabulary plus an
    // <other> fold as the bucket alphabet — catches boilerplate
    // injection / register shift that document-level features miss.
    "q159_token_drift" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Stats.tokenDrift(
          docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
          col("text"), k = 64)
        .orderBy("feature", "bucket")
    },

    // ---- Incremental near-dup CLUSTERS at crawl cadence: three
    // id-ranged waves through the persisted cluster state (exact
    // word-4-gram Jaccard ≥ 0.4 edges), resolved membership out. The
    // oracle is ONE batch transitive closure over the union — the
    // wave-order-independent equivalence the state is built around
    // (min-labels are global minima; merges retire behind the flat
    // alias map).
    "q160_incremental_clusters" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val sd = stateDir(dir)
      val t = Incremental.ClusterTables(
        "graft_q160_post", s"$sd/q160_post",
        "graft_q160_member", s"$sd/q160_member",
        "graft_q160_alias", s"$sd/q160_alias",
        "graft_q160_edges", s"$sd/q160_edges", numBuckets = 8)
      Seq(t.postTable, t.memberTable, t.aliasTable, t.edgeTable)
        .foreach(tb => s.sql(s"DROP TABLE IF EXISTS $tb"))
      Incremental.writeClusterState(docs.filter(col("doc_id") < 200),
        "doc_id", col("text"), n = 4, threshold = 0.4, t)
      Incremental.appendClusters(
        docs.filter(col("doc_id") >= 200 && col("doc_id") < 350),
        "doc_id", col("text"), n = 4, threshold = 0.4, t)
      Incremental.appendClusters(docs.filter(col("doc_id") >= 350),
        "doc_id", col("text"), n = 4, threshold = 0.4, t)
      Incremental.resolveClusters(s, t).orderBy("doc_id")
    },

    // ---- Winnow-backed incremental clusters (q160's contract over
    // q130's pair semantics): same three-wave life, but the edge
    // enumerator is the df-capped winnowing fingerprint join instead
    // of the exact gram probe — the designed escape from the gram
    // probe's Σ df_wave·df_state fan-out. Resolution after the waves
    // must hash-match one batch winnow clustering of the union.
    "q170_winnow_clusters" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val sd = stateDir(dir)
      val t = Incremental.ClusterTables(
        "graft_q170_post", s"$sd/q170_post",
        "graft_q170_member", s"$sd/q170_member",
        "graft_q170_alias", s"$sd/q170_alias",
        "graft_q170_edges", s"$sd/q170_edges", numBuckets = 8)
      Seq(t.postTable, t.memberTable, t.aliasTable, t.edgeTable)
        .foreach(tb => s.sql(s"DROP TABLE IF EXISTS $tb"))
      Incremental.writeWinnowClusterState(docs.filter(col("doc_id") < 200),
        "doc_id", col("text"), t, k = 4, w = 4, minShared = 2,
        maxDf = 1000)
      Incremental.appendWinnowClusters(
        docs.filter(col("doc_id") >= 200 && col("doc_id") < 350),
        "doc_id", col("text"), t, k = 4, w = 4, minShared = 2,
        maxDf = 1000)
      Incremental.appendWinnowClusters(docs.filter(col("doc_id") >= 350),
        "doc_id", col("text"), t, k = 4, w = 4, minShared = 2,
        maxDf = 1000)
      Incremental.resolveClusters(s, t).orderBy("doc_id")
    },

    // ---- Cluster-AWARE curation: the reason stable cluster ids
    // exist — keep the best representative (longest text, lowest-id
    // tie) of every resolved cluster, recurring state in, one window
    // out. Two id-ranged waves so the kept set provably spans the
    // incremental path, not one batch.
    "q161_cluster_curation" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val sd = stateDir(dir)
      val t = Incremental.ClusterTables(
        "graft_q161_post", s"$sd/q161_post",
        "graft_q161_member", s"$sd/q161_member",
        "graft_q161_alias", s"$sd/q161_alias",
        "graft_q161_edges", s"$sd/q161_edges", numBuckets = 8)
      Seq(t.postTable, t.memberTable, t.aliasTable, t.edgeTable)
        .foreach(tb => s.sql(s"DROP TABLE IF EXISTS $tb"))
      Incremental.writeClusterState(docs.filter(col("doc_id") < 300),
        "doc_id", col("text"), n = 4, threshold = 0.4, t)
      Incremental.appendClusters(docs.filter(col("doc_id") >= 300),
        "doc_id", col("text"), n = 4, threshold = 0.4, t)
      Dedup.keepBestWindow(
          docs.join(Incremental.resolveClusters(s, t), Seq("doc_id")),
          col("cluster"),
          Seq(col("n_chars").desc, col("doc_id").asc))
        .select(col("doc_id"), col("cluster"), col("n_chars"))
        .orderBy("doc_id")
    },

    // ---- SPLIT-CORRECT cluster takedown: retract every 97th doc
    // (including canon ids — re-election observable) from a two-wave
    // state; the persisted doc-level edge graph decides the resulting
    // components. The oracle is the batch closure over the RETAINED
    // corpus — what an in-place membership filter provably cannot
    // compute when a retracted doc was a bridge.
    "q162_cluster_takedown" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val sd = stateDir(dir)
      def tabs(v: String) = Incremental.ClusterTables(
        s"graft_q162_post$v", s"$sd/q162_post$v",
        s"graft_q162_member$v", s"$sd/q162_member$v",
        s"graft_q162_alias$v", s"$sd/q162_alias$v",
        s"graft_q162_edges$v", s"$sd/q162_edges$v", numBuckets = 8)
      val t0 = tabs(""); val t1 = tabs("_v1")
      Seq(t0, t1).foreach(x => Seq(x.postTable, x.memberTable,
        x.aliasTable, x.edgeTable)
        .foreach(tb => s.sql(s"DROP TABLE IF EXISTS $tb")))
      Incremental.writeClusterState(docs.filter(col("doc_id") < 250),
        "doc_id", col("text"), n = 4, threshold = 0.4, t0)
      Incremental.appendClusters(docs.filter(col("doc_id") >= 250),
        "doc_id", col("text"), n = 4, threshold = 0.4, t0)
      Incremental.takedownClusters(s,
        docs.filter(col("doc_id") % 97 === 0).select("doc_id"), t0, t1)
      Incremental.resolveClusters(s, t1).orderBy("doc_id")
    },

    // ---- AFFECTED-ONLY cluster takedown (the O(affected) path): the
    // same split-correct semantics as q162's blue/green rewrite, but
    // the outcome lands as a broadcast-scale patch + tombstone OVERLAY
    // over unrewritten state. The fixture interleaves hard cases: a
    // takedown mid-stream, a wave APPENDED AFTER it (the overlay-aware
    // probe/canon path), then a SECOND takedown (patch merging, alias
    // cleanup, prior tombstones). The oracle is one batch closure over
    // the retained corpus — identical to what the full rewrite
    // resolves, which is the patched ≡ blue/green contract.
    "q164_cluster_takedown_patched" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val sd = stateDir(dir)
      val t = Incremental.ClusterTables(
        "graft_q164_post", s"$sd/q164_post",
        "graft_q164_member", s"$sd/q164_member",
        "graft_q164_alias", s"$sd/q164_alias",
        "graft_q164_edges", s"$sd/q164_edges", numBuckets = 8)
      Seq(t.postTable, t.memberTable, t.aliasTable, t.edgeTable)
        .foreach(tb => s.sql(s"DROP TABLE IF EXISTS $tb"))
      Incremental.writeClusterState(docs.filter(col("doc_id") < 200),
        "doc_id", col("text"), n = 4, threshold = 0.4, t)
      Incremental.appendClusters(
        docs.filter(col("doc_id") >= 200 && col("doc_id") < 350),
        "doc_id", col("text"), n = 4, threshold = 0.4, t)
      Incremental.patchTakedownClusters(s,
        docs.filter(col("doc_id") % 97 === 0).select("doc_id"), t)
      // the post-takedown wave arrives tombstone-gated upstream, as
      // every ingestion loop does (a retracted id is never recrawled
      // into the same state)
      Incremental.appendClusters(
        docs.filter(col("doc_id") >= 350 && col("doc_id") % 97 =!= 0),
        "doc_id", col("text"), n = 4, threshold = 0.4, t)
      Incremental.patchTakedownClusters(s,
        docs.filter(col("doc_id") % 89 === 0).select("doc_id"), t)
      Incremental.resolveClusters(s, t).orderBy("doc_id")
    },

    // ---- HTML main-content extraction (engine extension; the
    // reference stops at a bare tag strip, driver_bible.py:55-56).
    // Pages are synthesized IN-QUERY around each document's
    // entity-escaped text: head/title/script/style, header/nav/
    // footer chrome, a link-farm sidebar and a comment — all of
    // which the block-scored extractor must drop — plus two real
    // content blocks it must keep in order. The whole synthesize→
    // extract chain is native column work (one WholeStageCodegen
    // span, zero shuffles, no UDF); the oracle recomputes the
    // expected main text from the documents table directly.
    "q172_html_main_text" -> { (s, dir) =>
      val wsCollapsed = trim(regexp_replace(col("text"),
        "[ \\t\\n\\r\\f]+", " "))
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull &&
          size(split(wsCollapsed, " ")) >= 3)
        .select(col("doc_id"), col("text"))
      val page = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit(" of the corpus archive</title><style>p{margin:0}</style>" +
          "<script>var beacon = 'analytics payload';</script></head>" +
          "<body><header><h1>Corpus Site Banner Headline</h1></header>" +
          "<nav><a href=\"/\">home page</a> <a href=\"/about\">about " +
          "page</a></nav><!-- hidden comment words -->" +
          "<div><a href=\"/r1\">related article one</a> " +
          "<a href=\"/r2\">related article two</a></div><article><p>"),
        functions.web.encode_entities(col("text")),
        lit("</p><p>doc "), col("doc_id").cast("string"),
        lit(" section 2 content words</p></article>" +
          "<footer>Copyright footer navigation words</footer>" +
          "</body></html>"))
      docs.select(col("doc_id"),
          functions.web.html_main_text(page).as("main_text"))
        .orderBy("doc_id")
    },

    // ---- URL canonicalization for crawl-frontier identity (engine
    // extension, RFC 3986 §6.2): five deterministic messy shapes per
    // doc_id — scheme/host case + default port, fragment, unsorted
    // query, tracking params, a kept non-default port, and a
    // non-absolute passthrough. The oracle states the EXPECTED
    // canonical form from the construction, so every rule is checked
    // against ground truth rather than a re-implementation.
    "q173_url_canonical" -> { (s, dir) =>
      val id = col("doc_id").cast("string")
      val raw = when(col("doc_id") % 5 === 0,
          concat(lit("HTTP://Example.COM:80/Path/"), id,
            lit("?utm_source=feed&b=2&a=1#frag")))
        .when(col("doc_id") % 5 === 1,
          concat(lit("https://CDN.Example.com:443/assets/"), id))
        .when(col("doc_id") % 5 === 2,
          concat(lit("http://example.com?z="), id,
            lit("&y=2&utm_campaign=x")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("http://example.com:8080/keep/"), id,
            lit("?fbclid=abc")))
        .otherwise(concat(lit("/relative/"), id))
      Tables.documents(s, dir).select(col("doc_id"))
        .select(col("doc_id"), raw.as("url_raw"),
          functions.web.canonical_url(raw).as("url_canonical"))
        .orderBy("doc_id")
    },

    // ---- Sitemap parse (engine extension, sitemaps.org schema):
    // sitemap XML documents are ASSEMBLED in-query (10 urls per
    // sitemap, ordered entry concat, ampersands entity-escaped, even
    // ids carry lastmod) and parsed back through sitemap_entries —
    // a real serialize→parse round-trip per group. The oracle
    // recomputes the expected (loc, lastmod) rows from doc_ids.
    "q174_sitemap_parse" -> { (s, dir) =>
      val id = col("doc_id").cast("string")
      val entry = concat(lit("<url><loc>http://corpus.example/doc/"),
        id, lit("?lang=nah&amp;x=1</loc>"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<lastmod>2026-03-"),
            lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"),
            lit("</lastmod>"))).otherwise(lit("")),
        lit("</url>"))
      val xml = Tables.documents(s, dir)
        .select(col("doc_id"), entry.as("e"))
        .groupBy((col("doc_id") / 10).cast("long").as("sitemap_id"))
        .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
          concat_ws("", array_sort(collect_list(col("e")))),
          lit("</urlset>")).as("xml"))
      xml.select(col("sitemap_id"),
          explode(functions.web.sitemap_entries(col("xml"))).as("ent"))
        .select(col("sitemap_id"), col("ent.loc").as("loc"),
          col("ent.lastmod").as("lastmod"))
        .orderBy("loc")
    },

    // ---- Percent-encoding normalization inside canonical_url (RFC
    // 3986 §6.2.2.2, the PercentNormalize native expression): three
    // shapes — unreserved escapes decode (%61→a, %7e→~, %41→A),
    // reserved escapes keep their meaning but uppercase their hex
    // (%2f→%2F, %3a→%3A), malformed escapes (%G1, trailing %) pass
    // through untouched. Expected forms stated from construction.
    "q175_url_percent_normalize" -> { (s, dir) =>
      val id = col("doc_id").cast("string")
      val raw = when(col("doc_id") % 3 === 0,
          concat(lit("http://EX.com/p%61th/"), id, lit("?x=%7e%41")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("https://ex.com/%2Fkeep%2f"), id, lit("?y=%3a%3A")))
        .otherwise(concat(lit("http://ex.com/bad%G1/"), id, lit("%")))
      Tables.documents(s, dir).select(col("doc_id"))
        .select(col("doc_id"), raw.as("url_raw"),
          functions.web.canonical_url(raw).as("url_canonical"))
        .orderBy("doc_id")
    },

    // ---- WARC container scan (ISO 28500; engine extension — the
    // format 100 TB crawls arrive in). Real serialize→parse: the
    // corpus is packed into WARC files of 20 response records (one
    // warcinfo each), ODD file ids written as .warc.gz with ONE GZIP
    // MEMBER PER RECORD and every 3rd response in chunked transfer
    // encoding — so the member-concat gunzip, the record walk, the
    // HTTP split AND the de-chunker all sit on the oracle path. The
    // oracle recomputes (doc_id, body, status) from documents.
    "q176_warc_scan" -> { (s, dir) =>
      import s.implicits._
      val wdir = s"${stateDir(dir)}/q176_warcs"
      val files = Tables.documents(s, dir)
        .filter(col("text").isNotNull && length(col("text")) > 0)
        .withColumn("gid", (col("doc_id") / 20).cast("long"))
        .groupBy(col("gid"))
        .agg(sort_array(collect_list(
          struct(col("doc_id"), col("text")))).as("es"))
        .as[(Long, Seq[(Long, String)])]
        .map { case (gid, es) =>
          (gid, f"crawl_$gid%05d",
            es.map { case (id, t) =>
              (s"http://corpus.example/doc/$id", t) })
        }
      sources.Warc.writeWarcDir(
        files.filter(_._1 % 2 == 0).map(t => (t._2, t._3)), wdir)
      sources.Warc.writeWarcDir(
        files.filter(_._1 % 2 == 1).map(t => (t._2, t._3)), wdir,
        gzip = true, chunkEvery = 3, clean = false)
      sources.Warc.readWarcDir(s, wdir).toDF()
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          decode(col("body"), "UTF-8").as("text_out"),
          col("http_status"), col("warc_ok"))
        .orderBy("doc_id")
    },
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_quantity), 2) / count(*) AS avg_qty,
        |  round(sum(l_discount), 2) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_revenue_by_nation" ->
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q3_top_customers" ->
      """SELECT c_custkey, c_name,
        |  round(sum(o_totalprice), 2) AS total_spent,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY total_spent DESC, c_custkey
        |LIMIT 10""".stripMargin,

    "q4_events_daily_ma" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type,
        |    round(sum(value), 2) / count(*) AS avg_value, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(day AS VARCHAR) AS day, event_type, avg_value, n,
        |  avg(avg_value) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7
        |FROM daily
        |ORDER BY event_type, day""".stripMargin,

    "q5_events_lag_trend" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type,
        |    round(sum(value), 2) / count(*) AS avg_value
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(day AS VARCHAR) AS day, event_type, avg_value,
        |  lag(avg_value, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev_value,
        |  CASE
        |    WHEN lag(avg_value, 1) OVER (PARTITION BY event_type ORDER BY day) IS NULL THEN 'init'
        |    WHEN avg_value > lag(avg_value, 1) OVER (PARTITION BY event_type ORDER BY day) * 1.05 THEN 'up'
        |    WHEN avg_value < lag(avg_value, 1) OVER (PARTITION BY event_type ORDER BY day) * 0.95 THEN 'down'
        |    ELSE 'stable' END AS trend
        |FROM daily
        |ORDER BY event_type, day""".stripMargin,

    "q6_latest_event_per_user" ->
      """SELECT user_id, event_id, event_type, round(value, 2) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    "q7_dedup_docs_exact" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY lower(trim(coalesce(text, ''))) ORDER BY doc_id) AS rn
        |      FROM documents)
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "q8_dedup_best_per_group" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY lower(trim(coalesce(lang, ''))) || '|' || lower(trim(coalesce(source, '')))
        |        ORDER BY n_chars DESC, doc_id DESC) AS rn
        |      FROM documents)
        |WHERE rn = 1
        |ORDER BY lang, source""".stripMargin,

    "q9_dup_stats" ->
      """WITH g AS (
        |  SELECT lower(trim(coalesce(text, ''))) AS dup_key, count(*) AS n
        |  FROM documents GROUP BY 1)
        |SELECT CAST(sum(n) AS BIGINT) AS total_records,
        |  count(*) AS unique_records,
        |  CAST(sum(n) - count(*) AS BIGINT) AS duplicate_records,
        |  round((sum(n) - count(*)) / CAST(sum(n) AS DOUBLE), 6) AS duplicate_rate,
        |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS groups_with_duplicates,
        |  CAST(max(n) AS BIGINT) AS largest_group_size
        |FROM g""".stripMargin,

    "q10_null_stats" ->
      """SELECT 'lang' AS column_name,
        |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
        |  round(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS null_rate
        |FROM documents
        |UNION ALL
        |SELECT 'source',
        |  CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  round(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
        |FROM documents
        |UNION ALL
        |SELECT 'text',
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  round(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
        |FROM documents
        |ORDER BY column_name""".stripMargin,

    "q11_length_stats" ->
      """SELECT lang,
        |  count(text) AS n,
        |  CAST(sum(length(text)) AS DOUBLE) / count(text) AS mean_len,
        |  round(quantile_cont(length(text), 0.5), 4) AS median_len,
        |  CAST(min(length(text)) AS INT) AS min_len,
        |  CAST(max(length(text)) AS INT) AS max_len,
        |  round(stddev_samp(length(text)), 4) AS std_len
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "q12_ttr" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents)
        |SELECT count(*) AS total_tokens,
        |  count(DISTINCT token) AS distinct_tokens,
        |  round(count(DISTINCT token) / CAST(count(*) AS DOUBLE), 6) AS ttr
        |FROM tok WHERE token <> ''""".stripMargin,

    "q13_char_stats" ->
      """SELECT lang,
        |  CAST(sum(length(text) - length(translate(text, 'aeiou', ''))) AS BIGINT) AS vowel_count,
        |  CAST(sum(length(text) - length(translate(text, ' ', ''))) AS BIGINT) AS space_count,
        |  CAST(max(CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END) AS INT) AS has_spark
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "q14_event_pivot" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signups,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
        |  count(*) AS total
        |FROM events
        |GROUP BY 1
        |ORDER BY day""".stripMargin,

    "q15_value_ratio" ->
      """SELECT event_type,
        |  100.0 * sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) /
        |    nullif(count(*), 0) AS pct_high_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q17_customers_with_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,

    "q18_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "q20_knn_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT query_id, corpus_id,
        |        CASE WHEN sqrt(list_dot_product(qv, qv)) = 0 OR sqrt(list_dot_product(cv, cv)) = 0
        |             THEN 0.0
        |             ELSE list_dot_product(qv, cv) /
        |                  (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))) END AS sim
        |      FROM c, q WHERE corpus_id <> query_id),
        |r AS (SELECT query_id, corpus_id, sim, row_number() OVER (
        |        PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rank FROM s)
        |SELECT query_id, corpus_id, round(sim, 6) AS sim, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q21_similar_pairs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 100),
        |s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        CASE WHEN sqrt(list_dot_product(a.v, a.v)) = 0 OR sqrt(list_dot_product(b.v, b.v)) = 0
        |             THEN 0.0
        |             ELSE list_dot_product(a.v, b.v) /
        |                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END AS sim
        |      FROM e a, e b WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(sim, 6) AS sim FROM s
        |WHERE sim >= 0.25
        |ORDER BY id_a, id_b""".stripMargin,

    "q22_token_stats" ->
      """SELECT lang,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS total_tokens,
        |  CAST(sum(
        |    len(regexp_extract_all(text, '[\p{L}]+')) +
        |    len(regexp_extract_all(text, '[0-9]+')) +
        |    len(regexp_extract_all(text, '[^\p{L}0-9\s]')) +
        |    len(regexp_extract_all(text, '[\p{L}]{5,8}')) +
        |    2 * len(regexp_extract_all(text, '[\p{L}]{9,}'))) AS BIGINT) AS total_bpe_tokens,
        |  round(avg(CASE WHEN len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> length(x) > 0)) = 0 THEN 0.0
        |    ELSE list_sum(list_transform(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> length(x) > 0), x -> length(x))) /
        |      CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> length(x) > 0)) AS DOUBLE) END), 4) AS avg_word_len
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "q23_quality_score" ->
      """WITH scored AS (
        |  SELECT lang, round(
        |    (CASE WHEN length(text) BETWEEN 10 AND 2000 THEN 1.0
        |          WHEN length(text) BETWEEN 3 AND 9 THEN 0.5 ELSE 0.0 END) * 0.3 +
        |    (CASE WHEN (CASE WHEN len(list_filter(string_split_regex(trim(text), '\s+'),
        |            x -> length(x) > 0)) = 0 THEN 0.0
        |          ELSE list_sum(list_transform(list_filter(string_split_regex(trim(text), '\s+'),
        |              x -> length(x) > 0), x -> length(x))) /
        |            CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |              x -> length(x) > 0)) AS DOUBLE) END) BETWEEN 2.0 AND 12.0
        |       THEN 1.0 ELSE 0.3 END) * 0.2 +
        |    (1.0 - least(CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE len(regexp_extract_all(text, '[^\p{L}0-9\s]')) * 1.0 / length(text) END * 4,
        |       1.0)) * 0.2 +
        |    (CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE len(regexp_extract_all(text, '[\p{L}]')) * 1.0 / length(text)
        |     END) * 0.3, 6) AS q
        |  FROM documents)
        |SELECT lang, round(avg(q), 4) AS avg_quality,
        |  CAST(sum(CASE WHEN q >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS high_quality_docs
        |FROM scored
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "q24_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0), ' ')) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q25_normalize_nfc" ->
      """SELECT doc_id,
        |  trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g')) AS norm_text
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q26_orders_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q27_sessionize" ->
      """WITH t AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev_s IS NULL OR s - prev_s > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM t
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q28_events_json" ->
      """SELECT event_type,
        |  CAST(sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  round(avg(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)), 4) AS avg_k,
        |  count(*) AS n
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q31_unify_pipeline" ->
      """WITH corpus AS (
        |  SELECT text AS es,
        |    CASE WHEN lang IN ('es', 'de') THEN text END AS nah,
        |    CASE WHEN lang = 'zh' THEN text END AS myn,
        |    CASE WHEN doc_id % 3 = 0 THEN 'diamond' ELSE 'silver' END AS layer
        |  FROM documents),
        |norm AS (
        |  SELECT nullif(trim(regexp_replace(nfc_normalize(es), '\s+', ' ', 'g')), '') AS es,
        |    nullif(trim(regexp_replace(nfc_normalize(nah), '\s+', ' ', 'g')), '') AS nah,
        |    nullif(trim(regexp_replace(nfc_normalize(myn), '\s+', ' ', 'g')), '') AS myn,
        |    layer
        |  FROM corpus),
        |valid AS (
        |  SELECT * FROM norm
        |  WHERE es IS NOT NULL AND (nah IS NOT NULL OR myn IS NOT NULL)),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY lower(trim(coalesce(es, ''))) || '|' ||
        |      lower(trim(coalesce(nah, ''))) || '|' || lower(trim(coalesce(myn, '')))
        |    ORDER BY (CASE layer WHEN 'gold' THEN 3 WHEN 'diamond' THEN 2
        |              WHEN 'silver' THEN 1 ELSE 0 END) DESC) AS rn
        |  FROM valid)
        |SELECT layer, count(*) AS n, count(nah) AS nah_n, count(myn) AS myn_n
        |FROM ranked WHERE rn = 1
        |GROUP BY layer
        |ORDER BY layer""".stripMargin,

    "q38_multimodal_features" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q39_distinct_subset" ->
      """SELECT DISTINCT lang, source FROM documents
        |ORDER BY lang, source""".stripMargin,

    "q40_audit_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |LIMIT 20""".stripMargin,

    "q34_enrichment_left_join" ->
      """WITH big AS (
        |  SELECT o_custkey AS c_custkey, count(*) AS big_orders,
        |    round(sum(o_totalprice), 2) AS big_total
        |  FROM orders WHERE o_totalprice > 400000
        |  GROUP BY o_custkey)
        |SELECT c.c_custkey, c.c_mktsegment,
        |  coalesce(big.big_orders, 0) AS big_orders,
        |  coalesce(big.big_total, 0.0) AS big_total
        |FROM customer c LEFT JOIN big ON c.c_custkey = big.c_custkey
        |ORDER BY c.c_custkey""".stripMargin,

    // q35: the oracle replays sentences_of's protection chain pass by
    // pass (the patterns are RE2-safe by design; chr(31) = the shield,
    // chr(30) = the boundary marker, both restored/consumed below).
    "q35_sentence_split" ->
      """WITH raw AS (
        |  SELECT doc_id, text || ' El Sr. López y la Dra. Ruiz, p. ej. etc. así 3.14 sigue... baja. J. R. R. Tolkien escribió. Fin one. two! three? four. Vive en EE. UU. desde 1990 en el Blvd. Reforma. Nació en 44 a. C. aprox. el 1.º de mayo. N.º 12, vol. 3 sigue. El 5 dic. de 2020 llegó. FF. AA. listas' AS t
        |  FROM documents),
        |p1 AS (SELECT doc_id, regexp_replace(t, '\b([pP])\.(\s*)(ej)\.',
        |  '\1' || chr(31) || '\2\3' || chr(31), 'g') AS t FROM raw),
        |p1b AS (SELECT doc_id, regexp_replace(t,
        |  '\b(EE|FF|RR|Bs|[ad])\.(\s*(?:UU|AA|CC|HH|As|C))\.(\s+[\p{Ll}0-9])',
        |  '\1' || chr(31) || '\2' || chr(31) || '\3', 'g') AS t FROM p1),
        |p1c AS (SELECT doc_id, regexp_replace(t,
        |  '\b(EE|FF|RR|Bs|[ad])\.(\s*(?:UU|AA|CC|HH|As|C)\.)',
        |  '\1' || chr(31) || '\2', 'g') AS t FROM p1b),
        |p1d AS (SELECT doc_id, regexp_replace(t,
        |  '([0-9Nn])\.(\s*[ºª°])',
        |  '\1' || chr(31) || '\2', 'g') AS t FROM p1c),
        |p2 AS (SELECT doc_id, regexp_replace(t,
        |  '\b(Sr|Sra|Srta|Sres|Dr|Dra|Prof|Profa|Lic|Ing|Gral|Mtro|Mtra|Dña|Ud|Uds|Vd|Vds|Excmo|Excma|Ilmo|Ilma|Rvdo|Mons|Hno|Hna|Sta|Sto|Blvd|Avda|Av|Calz|Cnel|Tte|Gob)\.',
        |  '\1' || chr(31), 'g') AS t FROM p1d),
        |p3 AS (SELECT doc_id, regexp_replace(t,
        |  '\b(etc|núm|pág|art|vs|aprox|cap|ed|fig|ref|op|cit|ene|feb|mar|abr|may|jun|jul|ago|sep|sept|oct|nov|dic|tel|tfno|dpto|apdo|vol|pp|párr)\.(\s+[\p{Ll}0-9])',
        |  '\1' || chr(31) || '\2', 'g') AS t FROM p2),
        |p4 AS (SELECT doc_id, regexp_replace(t, '\.\.\.(\s+\p{Ll})',
        |  chr(31) || chr(31) || chr(31) || '\1', 'g') AS t FROM p3),
        |p5 AS (SELECT doc_id, regexp_replace(t,
        |  '\b([A-ZÁÉÍÓÚÑ])\.(\s+[A-ZÁÉÍÓÚÑ])',
        |  '\1' || chr(31) || '\2', 'g') AS t FROM p4),
        |p6 AS (SELECT doc_id, regexp_replace(t,
        |  '\b([A-ZÁÉÍÓÚÑ])\.(\s+[A-ZÁÉÍÓÚÑ])',
        |  '\1' || chr(31) || '\2', 'g') AS t FROM p5),
        |s AS (
        |  SELECT doc_id, string_split(regexp_replace(
        |    t, '([.!?])\s+', '\1' || chr(30), 'g'), chr(30)) AS sent
        |  FROM p6),
        |e AS (SELECT doc_id, trim(replace(x, chr(31), '.')) AS sentence
        |      FROM s, unnest(sent) AS t(x)
        |      WHERE length(trim(replace(x, chr(31), '.'))) > 0)
        |SELECT doc_id, count(*) AS n_sentences,
        |  CAST(max(length(sentence)) AS INT) AS max_sentence_len
        |FROM e GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q36_lang_id" ->
      """SELECT CASE
        |    WHEN regexp_matches(text, '[āēīōūĀĒĪŌŪ]') THEN 'nah'
        |    WHEN len(regexp_extract_all(lower(text), '(k''|ch''|t''|p''|ts''|ʔ)')) >= 1 THEN 'myn'
        |    WHEN len(regexp_extract_all(lower(text), '(tl|tz|kw|ku)')) >= 2 THEN 'nah'
        |    WHEN regexp_matches(text, '[¿¡ñ]') THEN 'es'
        |    ELSE 'unknown' END AS detected,
        |  count(*) AS n
        |FROM documents
        |GROUP BY 1
        |ORDER BY detected""".stripMargin,

    "q32_windowed_agg" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin,

    "q33_session_windows" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800 THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, sum(new_s) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |per_sess AS (
        |  SELECT user_id, sid, count(*) AS n FROM sess GROUP BY user_id, sid)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(max(n) AS BIGINT) AS max_session_events,
        |  CAST(sum(n) AS BIGINT) AS n_events
        |FROM per_sess
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q41_similar_pairs_full" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
        |             ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END AS sim
        |      FROM n a, n b WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(sim, 6) AS sim FROM s
        |WHERE sim >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "q42_embedding_dedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |dup AS (SELECT DISTINCT b.vec_id AS id_b
        |        FROM n a, n b WHERE a.vec_id < b.vec_id
        |          AND (CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
        |               ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END) >= 0.4)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT id_b FROM dup)
        |ORDER BY vec_id""".stripMargin,

    "q55_skew_report" ->
      """WITH c AS (SELECT l_orderkey, count(*) AS c FROM lineitem GROUP BY 1)
        |SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |  count(*) AS n_keys,
        |  CAST(max(c) AS BIGINT) AS max_key_rows,
        |  round(avg(CAST(c AS DOUBLE)), 4) AS avg_key_rows,
        |  round(max(c) / avg(CAST(c AS DOUBLE)), 4) AS skew_ratio
        |FROM c""".stripMargin,

    "q56_heavy_hitters" ->
      """WITH t AS (SELECT count(*) AS total FROM events)
        |SELECT user_id AS key, count(*) AS key_rows,
        |  round(count(*) * 100.0 / t.total, 4) AS share_pct
        |FROM events CROSS JOIN t
        |GROUP BY user_id, t.total
        |ORDER BY key_rows DESC, key
        |LIMIT 10""".stripMargin,

    "q57_salted_join" ->
      """SELECT o.o_orderstatus,
        |  count(*) AS n_items,
        |  round(sum(l.l_extendedprice), 2) AS total_price
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderstatus
        |ORDER BY o.o_orderstatus""".stripMargin,

    "q54_bm25_search" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks WHERE term <> '' GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n, avg(CAST(coalesce(dl.dl, 0) AS DOUBLE)) AS avgdl
        |          FROM documents LEFT JOIN dl USING (doc_id)),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('spark', 'shuffle', 'join') GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |SELECT tf.doc_id,
        |  round(sum(
        |    ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
        |    tf.tf * (1.2 + 1.0) /
        |    (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
        |  ), 4) AS bm25_score
        |FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |GROUP BY tf.doc_id
        |ORDER BY bm25_score DESC, tf.doc_id
        |LIMIT 20""".stripMargin,

    "q53_event_rollup" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, value FROM events)
        |SELECT event_type, CAST(day AS VARCHAR) AS day,
        |  count(*) AS n, round(sum(value), 2) AS total_value
        |FROM e GROUP BY ROLLUP(event_type, day)
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,

    "q52_asof_enrich" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, max(value) AS pvalue
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |p2 AS (SELECT user_id, ts, pvalue, epoch_us(ts) AS pts FROM p)
        |SELECT c.user_id, c.event_id,
        |  round(p2.pvalue, 2) AS prev_purchase_value,
        |  p2.pts AS prev_purchase_ts
        |FROM clicks c ASOF LEFT JOIN p2
        |  ON c.user_id = p2.user_id AND c.ts >= p2.ts
        |ORDER BY c.user_id, c.event_id""".stripMargin,

    "q51_quantized_knn" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
        |             ELSE list_max(list_transform(v, x -> abs(x))) / 127.0 END AS scale
        |      FROM e),
        |qz AS (SELECT vec_id,
        |        list_transform(v, x -> round(x / scale)) AS q FROM s),
        |n AS (SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS nrm FROM qz),
        |scored AS (SELECT qr.vec_id AS query_id, c.vec_id AS corpus_id,
        |    CASE WHEN c.nrm = 0 OR qr.nrm = 0 THEN 0.0
        |         ELSE list_dot_product(c.q, qr.q) / (c.nrm * qr.nrm) END AS sim
        |  FROM n c, n qr
        |  WHERE qr.vec_id < 10 AND c.vec_id <> qr.vec_id),
        |ranked AS (SELECT query_id, corpus_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, corpus_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, corpus_id, round(sim, 6) AS sim, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q50_stratified_split" ->
      """WITH ranked AS (
        |  SELECT lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '|42'), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN rn <= ceil(0.9 * n) THEN 'train'
        |       WHEN rn <= ceil(0.95 * n) THEN 'validation'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_rows
        |FROM ranked
        |GROUP BY 1, 2
        |ORDER BY lang, split""".stripMargin,

    "q105_leak_report" ->
      """WITH g AS (SELECT doc_id, list_distinct(list_filter(
        |        list_transform(range(1, greatest(length(text) - 7, 0) + 2),
        |          i -> text[i:i+7]),
        |        x -> length(x) = 8)) AS grams FROM documents),
        |ev AS (SELECT * FROM g WHERE doc_id % 10 = 0),
        |tr AS (SELECT * FROM g WHERE doc_id % 10 <> 0),
        |leakc AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_leaks
        |  FROM ev e, tr t2
        |  WHERE round(CASE WHEN len(list_distinct(list_concat(e.grams, t2.grams))) = 0 THEN 1.0
        |          ELSE len(list_filter(e.grams, x -> list_contains(t2.grams, x))) * 1.0 /
        |               len(list_distinct(list_concat(e.grams, t2.grams))) END, 6) >= 0.8
        |  GROUP BY e.doc_id)
        |SELECT d.doc_id, coalesce(c.n_leaks, 0) AS n_leaks,
        |  coalesce(c.n_leaks, 0) > 0 AS leaked
        |FROM documents d LEFT JOIN leakc c USING (doc_id)
        |WHERE d.doc_id % 10 = 0""".stripMargin,

    "q49_decontaminate" ->
      """WITH g AS (SELECT doc_id, list_distinct(list_filter(
        |        list_transform(range(1, greatest(length(text) - 7, 0) + 2),
        |          i -> text[i:i+7]),
        |        x -> length(x) = 8)) AS grams FROM documents),
        |ev AS (SELECT * FROM g WHERE doc_id % 10 = 0),
        |tr AS (SELECT * FROM g WHERE doc_id % 10 <> 0),
        |leak AS (SELECT DISTINCT e.doc_id FROM ev e, tr t2
        |  WHERE round(CASE WHEN len(list_distinct(list_concat(e.grams, t2.grams))) = 0 THEN 1.0
        |          ELSE len(list_filter(e.grams, x -> list_contains(t2.grams, x))) * 1.0 /
        |               len(list_distinct(list_concat(e.grams, t2.grams))) END, 6) >= 0.8)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT doc_id FROM leak)
        |ORDER BY doc_id""".stripMargin,

    "q47_dup_clusters" ->
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |g AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |      FROM n a, n b WHERE a.vec_id < b.vec_id
        |        AND (CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
        |             ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END) >= 0.4),
        |edges AS (SELECT id_a AS a, id_b AS b FROM g
        |          UNION ALL SELECT id_b, id_a FROM g),
        |reach(id, m) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e2.a, r.m FROM edges e2 JOIN reach r ON r.id = e2.b)
        |SELECT id AS vec_id, min(m) AS cluster_id FROM reach
        |GROUP BY id ORDER BY vec_id""".stripMargin,

    "q48_cluster_dedup" ->
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |g AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |      FROM n a, n b WHERE a.vec_id < b.vec_id
        |        AND (CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
        |             ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END) >= 0.4),
        |edges AS (SELECT id_a AS a, id_b AS b FROM g
        |          UNION ALL SELECT id_b, id_a FROM g),
        |reach(id, m) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e2.a, r.m FROM edges e2 JOIN reach r ON r.id = e2.b),
        |comp AS (SELECT id, min(m) AS cluster FROM reach GROUP BY id)
        |SELECT emb.vec_id, emb.label
        |FROM embeddings emb JOIN comp ON comp.id = emb.vec_id
        |QUALIFY row_number() OVER (
        |  PARTITION BY comp.cluster ORDER BY emb.label DESC, emb.vec_id ASC) = 1
        |ORDER BY vec_id""".stripMargin,

    "q43_metadata_unify" ->
      """WITH corpus AS (
        |  SELECT text AS es,
        |    CASE WHEN lang IN ('es', 'de') THEN text END AS nah,
        |    CASE WHEN lang = 'zh' THEN text END AS myn,
        |    source AS category,
        |    CASE WHEN doc_id % 3 = 0 THEN 'diamond' ELSE 'silver' END AS layer,
        |    CAST(doc_id AS VARCHAR) AS record_id,
        |    CASE WHEN lang = 'es' THEN 'central' ELSE 'classical' END AS dialect,
        |    CAST(doc_id % 5 AS DOUBLE) / 4.0 AS quality_score,
        |    (doc_id % 2 = 0) AS is_validated
        |  FROM documents),
        |norm AS (
        |  SELECT nullif(trim(regexp_replace(nfc_normalize(es), '\s+', ' ', 'g')), '') AS es,
        |    nullif(trim(regexp_replace(nfc_normalize(nah), '\s+', ' ', 'g')), '') AS nah,
        |    nullif(trim(regexp_replace(nfc_normalize(myn), '\s+', ' ', 'g')), '') AS myn,
        |    category, layer, record_id, dialect, quality_score, is_validated
        |  FROM corpus),
        |valid AS (
        |  SELECT * FROM norm
        |  WHERE es IS NOT NULL AND (nah IS NOT NULL OR myn IS NOT NULL)),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY lower(trim(coalesce(es, ''))) || '|' ||
        |      lower(trim(coalesce(nah, ''))) || '|' || lower(trim(coalesce(myn, '')))
        |    ORDER BY (CASE layer WHEN 'gold' THEN 3 WHEN 'diamond' THEN 2
        |              WHEN 'silver' THEN 1 ELSE 0 END) DESC,
        |      ((CASE WHEN es IS NOT NULL THEN 1 ELSE 0 END) +
        |       (CASE WHEN nah IS NOT NULL THEN 1 ELSE 0 END) +
        |       (CASE WHEN myn IS NOT NULL THEN 1 ELSE 0 END)) DESC,
        |      (coalesce(length(es), 0) + coalesce(length(nah), 0) +
        |       coalesce(length(myn), 0)) DESC,
        |      record_id) AS rn
        |  FROM valid)
        |SELECT category, dialect, count(*) AS n,
        |  round(CAST(sum(quality_score) AS DOUBLE), 2) AS total_quality,
        |  CAST(sum(CASE WHEN is_validated THEN 1 ELSE 0 END) AS BIGINT) AS validated_n
        |FROM ranked WHERE rn = 1
        |GROUP BY category, dialect
        |ORDER BY category, dialect""".stripMargin,

    "q44_text_corpus" ->
      """SELECT count(*) AS n,
        |  CAST(sum(length(trim(text))) AS BIGINT) AS total_chars
        |FROM documents
        |WHERE length(trim(text)) > 100""".stripMargin,

    "q30_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
        |g AS (SELECT doc_id, list_distinct(list_filter(
        |        list_transform(range(1, greatest(length(text) - 2, 0) + 2),
        |          i -> text[i:i+2]),
        |        x -> length(x) = 3)) AS grams, text FROM d),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.grams AS ga, b.grams AS gb
        |      FROM g a, g b WHERE a.doc_id < b.doc_id),
        |j AS (SELECT id_a, id_b,
        |        CASE WHEN len(list_distinct(list_concat(ga, gb))) = 0 THEN 1.0
        |          ELSE len(list_filter(ga, x -> list_contains(gb, x))) * 1.0 /
        |               len(list_distinct(list_concat(ga, gb))) END AS jac
        |      FROM p)
        |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j
        |WHERE round(jac, 6) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "q45_ngram_pairs_full" ->
      """WITH g AS (SELECT doc_id, list_distinct(list_filter(
        |        list_transform(range(1, greatest(length(text) - 7, 0) + 2),
        |          i -> text[i:i+7]),
        |        x -> length(x) = 8)) AS grams FROM documents),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.grams AS ga, b.grams AS gb
        |      FROM g a, g b WHERE a.doc_id < b.doc_id),
        |j AS (SELECT id_a, id_b,
        |        CASE WHEN len(list_distinct(list_concat(ga, gb))) = 0 THEN 1.0
        |          ELSE len(list_filter(ga, x -> list_contains(gb, x))) * 1.0 /
        |               len(list_distinct(list_concat(ga, gb))) END AS jac
        |      FROM p)
        |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j
        |WHERE round(jac, 6) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "q97_ngram_dedup_guarded" ->
      """WITH g AS (SELECT doc_id, list_distinct(list_filter(
        |        list_transform(range(1, greatest(length(text) - 7, 0) + 2),
        |          i -> text[i:i+7]),
        |        x -> length(x) = 8)) AS grams FROM documents),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.grams AS ga, b.grams AS gb
        |      FROM g a, g b WHERE a.doc_id < b.doc_id),
        |j AS (SELECT id_a, id_b,
        |        CASE WHEN len(list_distinct(list_concat(ga, gb))) = 0 THEN 1.0
        |          ELSE len(list_filter(ga, x -> list_contains(gb, x))) * 1.0 /
        |               len(list_distinct(list_concat(ga, gb))) END AS jac
        |      FROM p)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT id_b FROM j WHERE round(jac, 6) >= 0.8)
        |ORDER BY doc_id""".stripMargin,

    "q76_range_join" ->
      """SELECT s.s_suppkey, count(*) AS n_in_band,
        |  round(sum(c.c_acctbal), 2) AS sum_bal
        |FROM supplier s JOIN customer c
        |  ON c.c_acctbal BETWEEN s.s_acctbal - 500 AND s.s_acctbal + 500
        |GROUP BY s.s_suppkey
        |ORDER BY s.s_suppkey""".stripMargin,

    "q80_unigram_surprisal" ->
      """WITH w AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |  FROM documents),
        |ww AS (SELECT doc_id, word FROM w WHERE word <> ''),
        |f AS (SELECT word, count(*) AS f FROM ww GROUP BY word),
        |t AS (SELECT CAST(sum(f) AS DOUBLE) AS tot FROM f)
        |SELECT doc_id, count(*) AS n_words,
        |  CAST((CAST(sum(CAST(round(round(-log2(f / tot), 4) * 10000, 0)
        |        AS BIGINT)) AS BIGINT) * 200 + count(*))
        |      // (count(*) * 2) AS BIGINT) / 1000000.0 AS mean_surprisal
        |FROM ww JOIN f USING (word) CROSS JOIN t
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q96_remove_duplicate_spans" ->
      """WITH w AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |wp AS (SELECT doc_id, ws[i] AS word, i - 1 AS pos
        |       FROM w, unnest(generate_series(1, len(ws))) AS t(i)),
        |sp AS (SELECT doc_id, i - 1 AS p, array_to_string(ws[i:i+7], ' ') AS s
        |       FROM w, unnest(generate_series(1, greatest(len(ws) - 7, 0))) AS t(i)
        |       WHERE len(ws) >= 8),
        |dup AS (SELECT s FROM sp GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT sp.doc_id, p + j AS pos
        |        FROM sp JOIN dup USING (s),
        |             unnest(generate_series(0, 7)) AS u(j)),
        |kept AS (SELECT wp.doc_id, wp.pos, wp.word FROM wp
        |         LEFT JOIN cov ON wp.doc_id = cov.doc_id AND wp.pos = cov.pos
        |         WHERE cov.pos IS NULL),
        |reb AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS text
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(reb.text, '') AS text
        |FROM documents d LEFT JOIN reb USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q98_remove_spans_raw" ->
      """WITH w AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |wp AS (SELECT doc_id, ws[i] AS word, i - 1 AS pos
        |       FROM w, unnest(generate_series(1, len(ws))) AS t(i)),
        |sp AS (SELECT doc_id, i - 1 AS p, array_to_string(ws[i:i+7], ' ') AS s
        |       FROM w, unnest(generate_series(1, greatest(len(ws) - 7, 0))) AS t(i)
        |       WHERE len(ws) >= 8),
        |dup AS (SELECT s FROM sp GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT sp.doc_id, p + j AS pos
        |        FROM sp JOIN dup USING (s),
        |             unnest(generate_series(0, 7)) AS u(j)),
        |pieces AS (SELECT wp.doc_id, wp.pos,
        |    (CASE WHEN wp.pos = 0 THEN ''
        |          WHEN c1.pos IS NOT NULL AND c0.pos IS NOT NULL THEN ''
        |          ELSE ' ' END) ||
        |    (CASE WHEN c1.pos IS NOT NULL THEN '' ELSE wp.word END) AS piece
        |  FROM wp
        |  LEFT JOIN cov c1 ON wp.doc_id = c1.doc_id AND wp.pos = c1.pos
        |  LEFT JOIN cov c0 ON wp.doc_id = c0.doc_id AND wp.pos - 1 = c0.pos),
        |reb AS (SELECT doc_id, string_agg(piece, '' ORDER BY pos) AS text
        |        FROM pieces GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(reb.text, d.text) AS text
        |FROM documents d LEFT JOIN reb USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q99_shard_assign" ->
      """WITH c AS (SELECT doc_id,
        |    CAST(coalesce(sum(length(text)) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        |  FROM documents)
        |SELECT doc_id, start // 16384 AS shard,
        |  start % 16384 AS shard_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    "q100_incremental_exact" ->
      """SELECT i.doc_id, i.text FROM documents i
        |WHERE i.doc_id % 3 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.doc_id % 5 <> 0 AND c.text = i.text)
        |ORDER BY i.doc_id""".stripMargin,

    // q102/q106/q107 replay the SQL-expressible part of a seeded
    // operator over engine-exported state (see stateDir's scaladoc):
    // the export carries the seeded keying DuckDB cannot reproduce
    // (hyperplane cells, banded MinHash buckets); the JOIN + threshold
    // + anti-join semantics under test are computed independently.
    "q102_semantic_dedup" ->
      """WITH cells AS (
        |  SELECT cell, vec_id, vec
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q102_cells/*.parquet')),
        |dup AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM cells a JOIN cells b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE CASE WHEN sqrt(list_dot_product(a.vec, a.vec)) = 0
        |              OR sqrt(list_dot_product(b.vec, b.vec)) = 0 THEN 0.0
        |         ELSE list_dot_product(a.vec, b.vec) /
        |              (sqrt(list_dot_product(a.vec, a.vec)) *
        |               sqrt(list_dot_product(b.vec, b.vec))) END >= 0.4)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT vec_id FROM dup)
        |ORDER BY vec_id""".stripMargin,

    "q106_incremental_fuzzy" ->
      """WITH cor AS (
        |  SELECT band, bucket, doc_id, sig
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q106_corpus/*.parquet')),
        |inc AS (
        |  SELECT band, bucket, doc_id, sig
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q106_incoming/*.parquet')),
        |dup AS (
        |  SELECT DISTINCT i.doc_id
        |  FROM inc i JOIN cor c ON i.band = c.band AND i.bucket = c.bucket
        |  WHERE CAST(len(list_filter(generate_series(1, 64),
        |          k -> i.sig[k] = c.sig[k])) AS DOUBLE) / 64 >= 0.8)
        |SELECT doc_id, text FROM documents
        |WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT doc_id FROM dup)
        |ORDER BY doc_id""".stripMargin,

    "q107_incremental_semantic" ->
      """WITH cor AS (
        |  SELECT cell, vec_id, vec
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q107_cells/*.parquet')),
        |inc AS (
        |  SELECT cell, vec_id, vec
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q107_incoming/*.parquet')),
        |dup AS (
        |  SELECT DISTINCT i.vec_id
        |  FROM inc i JOIN cor c ON i.cell = c.cell
        |  WHERE CASE WHEN sqrt(list_dot_product(i.vec, i.vec)) = 0
        |              OR sqrt(list_dot_product(c.vec, c.vec)) = 0 THEN 0.0
        |         ELSE list_dot_product(i.vec, c.vec) /
        |              (sqrt(list_dot_product(i.vec, i.vec)) *
        |               sqrt(list_dot_product(c.vec, c.vec))) END >= 0.4)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id % 3 = 0 AND vec_id NOT IN (SELECT vec_id FROM dup)
        |ORDER BY vec_id""".stripMargin,

    // q16/q29/q37/q65/q66/q72 follow the same seeded-state-export
    // contract: the export carries ONLY what DuckDB cannot recompute
    // (xxhash64 uniforms, SimHash/MinHash signatures, zlib ratios);
    // the labelling / banding / Hamming / agreement / anti-join
    // semantics are replayed independently in SQL.
    "q108_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, text, lang FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text,
        |    lang
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id < 10),
        |d AS (
        |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |    CASE WHEN v1.doc_id IS NULL THEN 'added'
        |         WHEN v2.doc_id IS NULL THEN 'removed'
        |         WHEN v1.text IS DISTINCT FROM v2.text
        |           OR v1.lang IS DISTINCT FROM v2.lang THEN 'changed'
        |         ELSE 'unchanged' END AS change
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT change, count(*) AS n FROM d GROUP BY change ORDER BY change""".stripMargin,

    "q109_compact" ->
      """SELECT doc_id, text, lang, source FROM documents ORDER BY doc_id""",

    // q111's oracle replays the greedy BPE encode loop itself: each
    // word's symbol string (chr(30)/chr(31)-wrapped so replace() can
    // never match across a boundary) iteratively applies the
    // lowest-rank merge present until none applies — exactly the
    // BpeEncode kernel's convention — then token counts roll up per
    // doc. The merges are the exported trained state (like q59's
    // codebook); the encode semantics are computed independently.
    "q111_bpe_token_profile" ->
      """WITH RECURSIVE m AS (
        |  SELECT rank, a, b FROM read_parquet('__GRAFT_STATE_DIR__/q111_merges/*.parquet')),
        |w AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS word FROM documents),
        |ww AS (SELECT doc_id, word FROM w WHERE word <> ''),
        |dw AS (SELECT DISTINCT word FROM ww),
        |init AS (SELECT word,
        |    list_aggregate(list_transform(generate_series(1, len(word)),
        |      i -> chr(30) || word[i:i] || chr(31)), 'string_agg', '') AS s
        |  FROM dw),
        |rec(word, s) AS (
        |  SELECT word, s FROM init
        |  UNION ALL
        |  SELECT e.word,
        |    replace(e.s, chr(30)||mm.a||chr(31)||chr(30)||mm.b||chr(31),
        |                 chr(30)||mm.a||mm.b||chr(31))
        |  FROM rec e, LATERAL (
        |    SELECT a, b FROM m
        |    WHERE position(chr(30)||m.a||chr(31)||chr(30)||m.b||chr(31) IN e.s) > 0
        |    ORDER BY rank LIMIT 1) mm),
        |fin AS (SELECT word, s FROM rec r WHERE NOT EXISTS (
        |  SELECT 1 FROM m
        |  WHERE position(chr(30)||m.a||chr(31)||chr(30)||m.b||chr(31) IN r.s) > 0)),
        |np AS (SELECT word, len(s) - len(replace(s, chr(30), '')) AS n_pieces FROM fin)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_words,
        |  CAST(sum(n_pieces) AS INT) AS n_tokens
        |FROM ww JOIN np USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q115_hamming_join_rewrite" ->
      """WITH sigs AS (
        |  SELECT doc_id, sig FROM read_parquet('__GRAFT_STATE_DIR__/q115_sigs/*.parquet'))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS dist
        |FROM sigs a JOIN sigs b
        |  ON a.doc_id < b.doc_id AND bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    "q114_upsert" ->
      """WITH existing AS (
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 0),
        |batch AS (
        |  SELECT doc_id, text || ' UPSERTED' AS text, lang
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id, text, lang FROM batch
        |UNION ALL
        |SELECT e.doc_id, e.text, e.lang FROM existing e
        |WHERE e.doc_id NOT IN (SELECT doc_id FROM batch)
        |ORDER BY doc_id""".stripMargin,

    "q113_line_dedup_within_doc" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    text || chr(10) || 'REPEATED BLOCK' || chr(10) || text ||
        |    chr(10) || 'REPEATED BLOCK' || chr(10) || substring(text, 1, 20) AS t
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(t, chr(10)) AS xs FROM src),
        |l AS (SELECT doc_id, i AS pos, xs[i] AS line
        |      FROM ls, unnest(generate_series(1, len(xs))) AS u(i)),
        |firsts AS (SELECT doc_id, line, min(pos) AS pos
        |           FROM l GROUP BY doc_id, line)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |FROM firsts GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q112 = q111's encode replay + q70's packing window, composed.
    "q112_bpe_pack" ->
      """WITH RECURSIVE m AS (
        |  SELECT rank, a, b FROM read_parquet('__GRAFT_STATE_DIR__/q112_merges/*.parquet')),
        |w AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS word FROM documents),
        |ww AS (SELECT doc_id, word FROM w WHERE word <> ''),
        |dw AS (SELECT DISTINCT word FROM ww),
        |init AS (SELECT word,
        |    list_aggregate(list_transform(generate_series(1, len(word)),
        |      i -> chr(30) || word[i:i] || chr(31)), 'string_agg', '') AS s
        |  FROM dw),
        |rec(word, s) AS (
        |  SELECT word, s FROM init
        |  UNION ALL
        |  SELECT e.word,
        |    replace(e.s, chr(30)||mm.a||chr(31)||chr(30)||mm.b||chr(31),
        |                 chr(30)||mm.a||mm.b||chr(31))
        |  FROM rec e, LATERAL (
        |    SELECT a, b FROM m
        |    WHERE position(chr(30)||m.a||chr(31)||chr(30)||m.b||chr(31) IN e.s) > 0
        |    ORDER BY rank LIMIT 1) mm),
        |fin AS (SELECT word, s FROM rec r WHERE NOT EXISTS (
        |  SELECT 1 FROM m
        |  WHERE position(chr(30)||m.a||chr(31)||chr(30)||m.b||chr(31) IN r.s) > 0)),
        |np AS (SELECT word, len(s) - len(replace(s, chr(30), '')) AS n_pieces FROM fin),
        |tok AS (SELECT doc_id, sum(n_pieces) AS n_tokens
        |        FROM ww JOIN np USING (word) GROUP BY doc_id),
        |st AS (SELECT d.doc_id, d.lang,
        |    coalesce(sum(t.n_tokens) OVER (
        |      PARTITION BY d.lang ORDER BY d.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
        |  FROM documents d JOIN tok t USING (doc_id))
        |SELECT doc_id, lang,
        |  CAST(floor(strt / 512) AS BIGINT) AS pack_id,
        |  CAST(strt % 512 AS BIGINT) AS pack_offset
        |FROM st
        |ORDER BY doc_id""".stripMargin,

    // q110 = q108's semantics through the persisted bucketed snapshot
    // table; same synthesis, same raw-column oracle.
    "q110_snapshot_diff_table" ->
      """WITH v1 AS (SELECT doc_id, text, lang FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text,
        |    lang
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id < 10),
        |d AS (
        |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |    CASE WHEN v1.doc_id IS NULL THEN 'added'
        |         WHEN v2.doc_id IS NULL THEN 'removed'
        |         WHEN v1.text IS DISTINCT FROM v2.text
        |           OR v1.lang IS DISTINCT FROM v2.lang THEN 'changed'
        |         ELSE 'unchanged' END AS change
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT change, count(*) AS n FROM d GROUP BY change ORDER BY change""".stripMargin,

    // q59's codebook rides as ONE nested list (cb3[s+1][c+1] = the
    // centroid subvector) so each pair's ADC sum is a deterministic
    // sequential list_sum — identical codes provably tie EXACTLY and
    // fall to the corpus_id tie-break, like the engine's kernel.
    "q59_pq_topk" ->
      """WITH cb AS (
        |  SELECT s, c, cent FROM read_parquet('__GRAFT_STATE_DIR__/q59_codebook/*.parquet')),
        |codes AS (
        |  SELECT vec_id, code, pq_norm FROM read_parquet('__GRAFT_STATE_DIR__/q59_codes/*.parquet')),
        |cbl AS (
        |  SELECT list(cents ORDER BY s) AS cb3 FROM (
        |    SELECT s, list(cent ORDER BY c) AS cents FROM cb GROUP BY s)),
        |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id % 40 = 0),
        |qn AS (SELECT query_id,
        |    CASE WHEN sqrt(list_dot_product(qv, qv)) = 0 THEN qv
        |         ELSE list_transform(qv, x -> x / sqrt(list_dot_product(qv, qv))) END AS qu
        |  FROM q),
        |scored AS (
        |  SELECT qn.query_id, codes.vec_id AS corpus_id,
        |    CASE WHEN codes.pq_norm = 0 THEN 0.0
        |         ELSE list_sum(list_transform(generate_series(0, 15), s ->
        |                list_dot_product(qn.qu[s*4+1 : s*4+4],
        |                                 cb3[s+1][codes.code[s+1]+1]))) / codes.pq_norm
        |    END AS adc
        |  FROM qn, codes, cbl WHERE codes.vec_id <> qn.query_id),
        |r AS (SELECT query_id, corpus_id, adc, row_number() OVER (
        |        PARTITION BY query_id ORDER BY adc DESC, corpus_id) AS rank FROM scored)
        |SELECT query_id, corpus_id, round(adc, 6) AS adc, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q95_margin_mine_ann" ->
      """WITH sigs AS (
        |  SELECT vec_id, t, sig FROM read_parquet('__GRAFT_STATE_DIR__/q95_sigs/*.parquet')),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS sid, b.vec_id AS tid
        |  FROM sigs a JOIN sigs b ON a.t = b.t AND a.sig = b.sig
        |  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
        |s AS (SELECT vec_id AS sid, CAST(embedding AS DOUBLE[]) AS sv
        |      FROM embeddings WHERE vec_id % 2 = 0),
        |t AS (SELECT vec_id AS tid, CAST(embedding AS DOUBLE[]) AS tv
        |      FROM embeddings WHERE vec_id % 2 = 1),
        |ap AS (SELECT cand.sid, cand.tid,
        |    CASE WHEN sqrt(list_dot_product(sv, sv)) = 0
        |              OR sqrt(list_dot_product(tv, tv)) = 0 THEN 0.0
        |         ELSE list_dot_product(sv, tv) /
        |              (sqrt(list_dot_product(tv, tv)) * sqrt(list_dot_product(sv, sv))) END AS sim
        |  FROM cand JOIN s USING (sid) JOIN t USING (tid)),
        |fwd AS (SELECT sid, tid, round(sim, 6) AS sim FROM (
        |    SELECT sid, tid, sim, row_number() OVER (
        |      PARTITION BY sid ORDER BY sim DESC, tid) AS rk FROM ap)
        |  WHERE rk <= 4 AND NOT isnan(sim)),
        |bwd AS (SELECT sid, tid, round(sim, 6) AS sim FROM (
        |    SELECT sid, tid, sim, row_number() OVER (
        |      PARTITION BY tid ORDER BY sim DESC, sid) AS rk FROM ap)
        |  WHERE rk <= 4 AND NOT isnan(sim)),
        |dx AS (SELECT sid, avg(sim) AS dx FROM fwd GROUP BY sid),
        |dy AS (SELECT tid, avg(sim) AS dy FROM bwd GROUP BY tid),
        |m AS (SELECT fwd.sid, fwd.tid, fwd.sim,
        |    fwd.sim / ((dx + dy) / 2) AS margin
        |  FROM fwd JOIN dx USING (sid) JOIN dy USING (tid)),
        |best AS (SELECT sid, tid, sim, margin, row_number() OVER (
        |    PARTITION BY sid ORDER BY margin DESC, tid) AS rk FROM m)
        |SELECT sid AS src_id, tid AS tgt_id, sim, round(margin, 6) AS margin
        |FROM best WHERE rk = 1 AND margin >= 1.0
        |ORDER BY src_id""".stripMargin,

    "q19_fuzzy_dedup" ->
      """WITH h AS (
        |  SELECT doc_id, t, h FROM read_parquet('__GRAFT_STATE_DIR__/q19_hashes/*.parquet')),
        |f AS (
        |  SELECT doc_id, idx FROM read_parquet('__GRAFT_STATE_DIR__/q19_feats/*.parquet')),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
        |  FROM h a JOIN h b ON a.t = b.t AND a.h = b.h AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, count(*) AS n FROM f GROUP BY doc_id),
        |inter AS (
        |  SELECT c.ida, c.idb, count(*) AS ni
        |  FROM cand c JOIN f fa ON fa.doc_id = c.ida
        |              JOIN f fb ON fb.doc_id = c.idb AND fb.idx = fa.idx
        |  GROUP BY c.ida, c.idb),
        |dup AS (
        |  SELECT DISTINCT i.idb AS doc_id
        |  FROM inter i JOIN sz sa ON sa.doc_id = i.ida
        |               JOIN sz sb ON sb.doc_id = i.idb
        |  WHERE 1.0 - CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) < 0.5)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM dup) ORDER BY doc_id""".stripMargin,

    "q87_leakage_safe_split" ->
      """WITH RECURSIVE sigs AS (
        |  SELECT doc_id, sig FROM read_parquet('__GRAFT_STATE_DIR__/q87_sigs/*.parquet')),
        |u AS (
        |  SELECT doc_id, u FROM read_parquet('__GRAFT_STATE_DIR__/q87_u/*.parquet')),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sigs a JOIN sigs b
        |    ON a.doc_id < b.doc_id AND bit_count(xor(a.sig, b.sig)) <= 3),
        |edges AS (SELECT id_a AS a, id_b AS b FROM p
        |          UNION ALL SELECT id_b, id_a FROM p),
        |reach(id, m) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.m FROM edges e JOIN reach r ON r.id = e.b),
        |root AS (SELECT id AS doc_id, min(m) AS cluster FROM reach GROUP BY id)
        |SELECT r.doc_id,
        |  CASE WHEN u.u < 0.9 THEN 'train'
        |       WHEN u.u < 0.95 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM root r JOIN u ON u.doc_id = r.cluster
        |ORDER BY r.doc_id""".stripMargin,

    "q16_seeded_split" ->
      """WITH u AS (
        |  SELECT doc_id, u FROM read_parquet('__GRAFT_STATE_DIR__/q16_u/*.parquet')),
        |lab AS (SELECT CASE WHEN u < 0.9 THEN 'train'
        |                    WHEN u < 0.95 THEN 'validation'
        |                    ELSE 'test' END AS split FROM u)
        |SELECT split, count(*) AS n FROM lab GROUP BY split ORDER BY split""".stripMargin,

    "q29_simhash_dedup" ->
      """WITH sigs AS (
        |  SELECT doc_id, sig FROM read_parquet('__GRAFT_STATE_DIR__/q29_sigs/*.parquet'))
        |SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (PARTITION BY sig ORDER BY doc_id) AS rk
        |  FROM sigs)
        |WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "q72_simhash_near_dedup" ->
      """WITH sigs AS (
        |  SELECT doc_id, sig FROM read_parquet('__GRAFT_STATE_DIR__/q72_sigs/*.parquet')),
        |dup AS (
        |  SELECT DISTINCT b.doc_id FROM sigs a JOIN sigs b
        |    ON a.doc_id < b.doc_id AND bit_count(xor(a.sig, b.sig)) <= 3)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM dup) ORDER BY doc_id""".stripMargin,

    "q37_minhash_band_dedup" ->
      """WITH sigs AS (
        |  SELECT doc_id, sig FROM read_parquet('__GRAFT_STATE_DIR__/q37_sigs/*.parquet')),
        |dup AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |  WHERE len(list_filter(generate_series(0, 31),
        |          bb -> a.sig[bb*4+1 : bb*4+4] = b.sig[bb*4+1 : bb*4+4])) > 0
        |    AND CAST(len(list_filter(generate_series(1, 128),
        |          k -> a.sig[k] = b.sig[k])) AS DOUBLE) / 128 >= 0.5)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM dup) ORDER BY doc_id""".stripMargin,

    "q66_incremental_dedup" ->
      """WITH sigs AS (
        |  SELECT doc_id, sig FROM read_parquet('__GRAFT_STATE_DIR__/q66_sigs/*.parquet')),
        |cor AS (SELECT * FROM sigs WHERE doc_id % 2 = 0),
        |inc AS (SELECT * FROM sigs WHERE doc_id % 2 = 1),
        |dup1 AS (
        |  SELECT DISTINCT i.doc_id
        |  FROM inc i, cor c
        |  WHERE len(list_filter(generate_series(0, 31),
        |          bb -> i.sig[bb*4+1 : bb*4+4] = c.sig[bb*4+1 : bb*4+4])) > 0
        |    AND CAST(len(list_filter(generate_series(1, 128),
        |          k -> i.sig[k] = c.sig[k])) AS DOUBLE) / 128 >= 0.5),
        |surv AS (SELECT * FROM inc WHERE doc_id NOT IN (SELECT doc_id FROM dup1)),
        |dup2 AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM surv a JOIN surv b ON a.doc_id < b.doc_id
        |  WHERE len(list_filter(generate_series(0, 31),
        |          bb -> a.sig[bb*4+1 : bb*4+4] = b.sig[bb*4+1 : bb*4+4])) > 0
        |    AND CAST(len(list_filter(generate_series(1, 128),
        |          k -> a.sig[k] = b.sig[k])) AS DOUBLE) / 128 >= 0.5)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM dup1)
        |  AND doc_id NOT IN (SELECT doc_id FROM dup2)
        |ORDER BY doc_id""".stripMargin,

    "q65_compression_profile" ->
      """WITH r AS (
        |  SELECT ratio FROM read_parquet('__GRAFT_STATE_DIR__/q65_ratios/*.parquet'))
        |SELECT CAST(floor(ratio * 10) AS INTEGER) AS ratio_decile,
        |  count(*) AS n_docs, round(avg(ratio), 4) AS mean_ratio
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q101_contamination_bloom" ->
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS g
        |      FROM w, unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS t(i)
        |      WHERE len(ws) >= 5),
        |e AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
        |c AS (SELECT doc_id, g FROM g WHERE doc_id % 7 <> 0),
        |prof AS (SELECT c.doc_id, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hit_grams
        |  FROM c LEFT JOIN e USING (g) GROUP BY c.doc_id)
        |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
        |  coalesce(hit_grams, 0) AS hit_grams,
        |  coalesce(hit_grams, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d
        |LEFT JOIN prof USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q94_column_profile" ->
      """SELECT * FROM (
        |  SELECT 'doc_id' AS column_name, count(doc_id) AS n_non_null,
        |    round(CAST(count(*) - count(doc_id) AS DOUBLE) / count(*), 6) AS null_rate,
        |    count(DISTINCT doc_id) AS n_distinct,
        |    CAST(min(doc_id) AS VARCHAR) AS min_value,
        |    CAST(max(doc_id) AS VARCHAR) AS max_value FROM documents
        |  UNION ALL
        |  SELECT 'text', count(text),
        |    round(CAST(count(*) - count(text) AS DOUBLE) / count(*), 6),
        |    count(DISTINCT text), CAST(min(text) AS VARCHAR),
        |    CAST(max(text) AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'lang', count(lang),
        |    round(CAST(count(*) - count(lang) AS DOUBLE) / count(*), 6),
        |    count(DISTINCT lang), CAST(min(lang) AS VARCHAR),
        |    CAST(max(lang) AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'source', count(source),
        |    round(CAST(count(*) - count(source) AS DOUBLE) / count(*), 6),
        |    count(DISTINCT source), CAST(min(source) AS VARCHAR),
        |    CAST(max(source) AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(n_chars),
        |    round(CAST(count(*) - count(n_chars) AS DOUBLE) / count(*), 6),
        |    count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
        |    CAST(max(n_chars) AS VARCHAR) FROM documents)
        |ORDER BY column_name""".stripMargin,

    "q93_temperature_resample" ->
      """WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |wq AS (SELECT lang, n, pow(CAST(n AS DOUBLE), 0.3) AS w FROM n),
        |q AS (SELECT lang, n, CAST(floor(
        |    round(800 * w / (SELECT sum(w) FROM wq), 6)) AS BIGINT) AS quota
        |  FROM wq),
        |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '|42'), doc_id) AS rk
        |  FROM documents),
        |reps AS (SELECT r.doc_id, r.lang,
        |    CAST(quota // n AS BIGINT) +
        |      CASE WHEN rk <= quota % n THEN 1 ELSE 0 END AS reps
        |  FROM r JOIN q USING (lang))
        |SELECT doc_id, lang, CAST(c AS BIGINT) AS copy
        |FROM reps, unnest(generate_series(0, CAST(reps - 1 AS BIGINT))) AS t(c)
        |WHERE reps > 0
        |ORDER BY doc_id, copy""".stripMargin,

    "q92_curation_pipeline" ->
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS g
        |      FROM w, unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS t(i)
        |      WHERE len(ws) >= 5),
        |e AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
        |hit AS (SELECT DISTINCT doc_id FROM g JOIN e USING (g)
        |        WHERE doc_id % 7 <> 0),
        |clean AS (SELECT d.* FROM documents d WHERE d.doc_id % 7 <> 0
        |          AND d.doc_id NOT IN (SELECT doc_id FROM hit)),
        |wrd AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS wd FROM clean),
        |wf AS (SELECT doc_id, wd, count(*) AS c FROM wrd WHERE wd <> '' GROUP BY 1, 2),
        |rep AS (SELECT doc_id FROM wf GROUP BY doc_id
        |        HAVING round(CAST(max(c) AS DOUBLE) / sum(c), 6) <= 0.12),
        |tok AS (SELECT c.doc_id, c.lang,
        |    CAST(CASE WHEN length(trim(c.text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(c.text), '\s+')) END AS INT) AS n_tokens
        |  FROM clean c JOIN rep USING (doc_id)),
        |rf AS (SELECT *, row_number() OVER (
        |      PARTITION BY lang ORDER BY n_tokens DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n FROM tok),
        |sel AS (SELECT doc_id, lang, n_tokens FROM rf
        |        WHERE rk <= ceil(round(n * 0.6, 6))),
        |cnt AS (SELECT lang, count(*) AS n FROM sel GROUP BY lang),
        |wq AS (SELECT lang, n, pow(CAST(n AS DOUBLE), 0.5) AS w FROM cnt),
        |q AS (SELECT lang, least(n, CAST(floor(
        |    round(120 * w / (SELECT sum(w) FROM wq), 6)) AS BIGINT)) AS quota
        |  FROM wq),
        |r AS (SELECT s.*, row_number() OVER (PARTITION BY s.lang
        |    ORDER BY md5(CAST(s.doc_id AS VARCHAR) || '|42'), s.doc_id) AS rk2
        |  FROM sel s)
        |SELECT doc_id, lang, n_tokens FROM r JOIN q USING (lang)
        |WHERE rk2 <= quota
        |ORDER BY doc_id""".stripMargin,

    "q91_mixture_report" ->
      """WITH g AS (SELECT lang, source, count(*) AS docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_cost,
        |    CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_cost
        |  FROM documents GROUP BY lang, source),
        |t AS (SELECT CAST(sum(docs) AS DOUBLE) AS td,
        |    CAST(sum(total_cost) AS DOUBLE) AS tc FROM g)
        |SELECT lang, source, docs, total_cost, mean_cost,
        |  round(docs / td, 6) AS doc_share,
        |  round(total_cost / tc, 6) AS cost_share
        |FROM g CROSS JOIN t
        |ORDER BY lang, source""".stripMargin,

    "q90_bigram_surprisal" ->
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |b AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS bg
        |      FROM w, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS t(i)
        |      WHERE len(ws) >= 2),
        |u AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS wd
        |      FROM documents),
        |uu AS (SELECT wd, count(*) AS f1 FROM u WHERE wd <> '' GROUP BY wd),
        |f2 AS (SELECT bg, count(*) AS f2 FROM b GROUP BY bg)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST((CAST(sum(CAST(round(round(-log2(f2 / CAST(f1 AS DOUBLE)), 4)
        |        * 10000, 0) AS BIGINT)) AS BIGINT) * 200 + count(*))
        |      // (count(*) * 2) AS BIGINT) / 1000000.0
        |    AS mean_surprisal
        |FROM b JOIN f2 USING (bg)
        |JOIN uu ON split_part(bg, ' ', 1) = uu.wd
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q89_decontaminate_gate" ->
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS g
        |      FROM w, unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS t(i)
        |      WHERE len(ws) >= 5),
        |e AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
        |hit AS (SELECT DISTINCT doc_id FROM g JOIN e USING (g)
        |        WHERE doc_id % 7 <> 0)
        |SELECT d.doc_id, d.lang FROM documents d
        |WHERE d.doc_id % 7 <> 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM hit)
        |ORDER BY d.doc_id""".stripMargin,

    "q88_relative_filter" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (
        |      PARTITION BY lang ORDER BY n_tokens DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n FROM d)
        |SELECT doc_id, lang, n_tokens FROM r
        |WHERE rk <= ceil(round(n * 0.4, 6))
        |ORDER BY doc_id""".stripMargin,

    "q86_margin_mine" ->
      """WITH s AS (SELECT vec_id AS sid, CAST(embedding AS DOUBLE[]) AS sv
        |           FROM embeddings WHERE vec_id % 2 = 0),
        |t AS (SELECT vec_id AS tid, CAST(embedding AS DOUBLE[]) AS tv
        |      FROM embeddings WHERE vec_id % 2 = 1),
        |ap AS (SELECT sid, tid,
        |    CASE WHEN sqrt(list_dot_product(sv, sv)) = 0
        |              OR sqrt(list_dot_product(tv, tv)) = 0 THEN 0.0
        |         ELSE list_dot_product(sv, tv) /
        |              (sqrt(list_dot_product(tv, tv)) * sqrt(list_dot_product(sv, sv))) END AS sim
        |  FROM s, t),
        |fwd AS (SELECT sid, tid, round(sim, 6) AS sim FROM (
        |    SELECT sid, tid, sim, row_number() OVER (
        |      PARTITION BY sid ORDER BY sim DESC, tid) AS rk FROM ap)
        |  WHERE rk <= 4 AND NOT isnan(sim)),
        |bwd AS (SELECT sid, tid, round(sim, 6) AS sim FROM (
        |    SELECT sid, tid, sim, row_number() OVER (
        |      PARTITION BY tid ORDER BY sim DESC, sid) AS rk FROM ap)
        |  WHERE rk <= 4 AND NOT isnan(sim)),
        |dx AS (SELECT sid, avg(sim) AS dx FROM fwd GROUP BY sid),
        |dy AS (SELECT tid, avg(sim) AS dy FROM bwd GROUP BY tid),
        |m AS (SELECT fwd.sid, fwd.tid, fwd.sim,
        |    fwd.sim / ((dx + dy) / 2) AS margin
        |  FROM fwd JOIN dx USING (sid) JOIN dy USING (tid)),
        |best AS (SELECT sid, tid, sim, margin, row_number() OVER (
        |    PARTITION BY sid ORDER BY margin DESC, tid) AS rk FROM m)
        |SELECT sid AS src_id, tid AS tgt_id, sim, round(margin, 6) AS margin
        |FROM best WHERE rk = 1 AND margin >= 1.0
        |ORDER BY src_id""".stripMargin,

    "q85_importance_weight" ->
      """WITH wr AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS w FROM documents),
        |ww AS (SELECT doc_id, w FROM wr WHERE w <> ''),
        |tw AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |       FROM documents WHERE lang = 'de'),
        |twt AS (SELECT w FROM tw WHERE w <> ''),
        |fr AS (SELECT w, count(*) AS f_r FROM ww GROUP BY w),
        |ft AS (SELECT w, count(*) AS f_t FROM twt GROUP BY w),
        |dict AS (SELECT coalesce(fr.w, ft.w) AS w,
        |    coalesce(f_r, 0) AS f_r, coalesce(f_t, 0) AS f_t
        |  FROM fr FULL OUTER JOIN ft ON fr.w = ft.w),
        |t AS (SELECT CAST(sum(f_r) AS DOUBLE) AS tr,
        |    CAST(sum(f_t) AS DOUBLE) AS tt,
        |    CAST(count(*) AS DOUBLE) AS v FROM dict),
        |s AS (SELECT w, log2(((f_t + 1) / (tt + v)) / ((f_r + 1) / (tr + v))) AS lr
        |      FROM dict CROSS JOIN t)
        |SELECT doc_id, n AS n_words,
        |  CASE WHEN sk >= 0 THEN CAST((sk * 200 + n) // (n * 2) AS BIGINT)
        |       ELSE -CAST(((-sk) * 200 + n) // (n * 2) AS BIGINT)
        |  END / 1000000.0 AS importance
        |FROM (
        |  SELECT doc_id, count(*) AS n,
        |    CAST(sum(CAST(round(round(lr, 4) * 10000, 0) AS BIGINT))
        |      AS BIGINT) AS sk
        |  FROM ww JOIN s USING (w)
        |  GROUP BY doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q104_cluster_stats" ->
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |g AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |      FROM n a, n b WHERE a.vec_id < b.vec_id
        |        AND (CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
        |             ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END) >= 0.4),
        |edges AS (SELECT id_a AS a, id_b AS b FROM g
        |          UNION ALL SELECT id_b, id_a FROM g),
        |reach(id, m) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e2.a, r.m FROM edges e2 JOIN reach r ON r.id = e2.b),
        |comp AS (SELECT id, min(m) AS cluster_id FROM reach GROUP BY id),
        |sizes AS (SELECT cluster_id, count(*) AS size FROM comp GROUP BY cluster_id)
        |SELECT CAST(count(*) AS BIGINT) AS clusters,
        |  CAST(sum(size) AS BIGINT) AS vertices,
        |  CAST(sum(CASE WHEN size > 1 THEN size ELSE 0 END) AS BIGINT)
        |    AS vertices_in_dup_clusters,
        |  CAST(max(size) AS BIGINT) AS largest_cluster,
        |  CAST(sum(size - 1) AS BIGINT) AS removable
        |FROM sizes""".stripMargin,

    "q103_curriculum_interleave" ->
      """WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, round(pow(CAST(n AS DOUBLE), 0.5), 6) AS w FROM n),
        |r AS (SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY doc_id) AS BIGINT) AS mix_rank FROM documents)
        |SELECT doc_id, lang, mix_rank,
        |  round((CAST(mix_rank AS DOUBLE) - 0.5) / w, 6) AS mix_pos
        |FROM r JOIN w USING (lang)
        |""".stripMargin,

    "q84_temperature_sample" ->
      """WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n, pow(CAST(n AS DOUBLE), 0.5) AS w FROM n),
        |q AS (SELECT lang, least(n, CAST(floor(
        |    round(200 * w / (SELECT sum(w) FROM w), 6)) AS BIGINT)) AS quota
        |  FROM w),
        |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '|42'), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, lang FROM r JOIN q USING (lang)
        |WHERE rk <= quota
        |ORDER BY doc_id""".stripMargin,

    "q83_c4_line_rules" ->
      """WITH base AS (SELECT doc_id,
        |    substr(text,   1, 60) || CASE WHEN (doc_id+0)%3=0 THEN '.'
        |      WHEN (doc_id+0)%3=1 THEN '' ELSE ' javascript.' END || chr(10) ||
        |    substr(text,  61, 60) || CASE WHEN (doc_id+1)%3=0 THEN '.'
        |      WHEN (doc_id+1)%3=1 THEN '' ELSE ' javascript.' END || chr(10) ||
        |    substr(text, 121, 60) || CASE WHEN (doc_id+2)%3=0 THEN '.'
        |      WHEN (doc_id+2)%3=1 THEN '' ELSE ' javascript.' END || chr(10) ||
        |    substr(text, 181, 60) || CASE WHEN (doc_id+3)%3=0 THEN '.'
        |      WHEN (doc_id+3)%3=1 THEN '' ELSE ' javascript.' END || chr(10) ||
        |    substr(text, 241, 60) || CASE WHEN (doc_id+4)%3=0 THEN '.'
        |      WHEN (doc_id+4)%3=1 THEN '' ELSE ' javascript.' END || chr(10) ||
        |    substr(text, 301, 60) || CASE WHEN (doc_id+5)%3=0 THEN '.'
        |      WHEN (doc_id+5)%3=1 THEN '' ELSE ' javascript.' END AS t
        |  FROM documents),
        |wl AS (SELECT doc_id, CASE WHEN doc_id % 97 = 0
        |    THEN t || chr(10) || 'more lorem ipsum filler text here.'
        |    ELSE t END AS t FROM base),
        |f AS (SELECT doc_id, list_filter(string_split(t, chr(10)), l ->
        |    len(string_split_regex(trim(l), '\s+')) >= 5 AND trim(l) <> ''
        |    AND regexp_matches(l, '[.!?"]\s*$')
        |    AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM wl
        |  WHERE NOT contains(lower(t), 'lorem ipsum')
        |    AND NOT contains(lower(t), '{'))
        |SELECT doc_id, array_to_string(kept, chr(10)) AS text
        |FROM f WHERE len(kept) >= 2
        |ORDER BY doc_id""".stripMargin,

    "q82_pii_redaction" ->
      """WITH t AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
        |    '.7 call +1 555-000-1234 ref 98765432' ||
        |    CAST(doc_id % 10 AS VARCHAR) AS s FROM documents),
        |r1 AS (SELECT doc_id, s, regexp_replace(s,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS e FROM t),
        |r2 AS (SELECT *, regexp_replace(e,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS i FROM r1),
        |r3 AS (SELECT *, regexp_replace(i,
        |    '\+\d[\d()\s-]{6,}\d', '<PHONE>', 'g') AS p FROM r2)
        |SELECT doc_id,
        |  regexp_replace(p, '\b\d{9,}\b', '<ID>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(s,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(e,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ip,
        |  CAST(len(regexp_extract_all(i, '\+\d[\d()\s-]{6,}\d')) AS INT) AS n_phone,
        |  CAST(len(regexp_extract_all(p, '\b\d{9,}\b')) AS INT) AS n_id
        |FROM r3 ORDER BY doc_id""".stripMargin,

    "q81_contamination_profile" ->
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS g
        |      FROM w, unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS t(i)
        |      WHERE len(ws) >= 5),
        |e AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
        |c AS (SELECT doc_id, g FROM g WHERE doc_id % 7 <> 0),
        |prof AS (SELECT c.doc_id, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hit_grams
        |  FROM c LEFT JOIN e USING (g) GROUP BY c.doc_id)
        |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
        |  coalesce(hit_grams, 0) AS hit_grams,
        |  coalesce(hit_grams, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d
        |LEFT JOIN prof USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q79_duplicate_spans" ->
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS span
        |      FROM w, unnest(generate_series(1, greatest(len(ws) - 7, 0))) AS t(i)
        |      WHERE len(ws) >= 8),
        |dup AS (SELECT span, 1 AS dup FROM g
        |        GROUP BY span HAVING count(DISTINCT doc_id) >= 2)
        |SELECT g.doc_id,
        |  count(*) AS n_spans,
        |  CAST(sum(coalesce(dup.dup, 0)) AS BIGINT) AS dup_spans,
        |  round(CAST(sum(coalesce(dup.dup, 0)) AS DOUBLE) / count(*), 6)
        |    AS dup_span_frac
        |FROM g LEFT JOIN dup USING (span)
        |GROUP BY g.doc_id
        |ORDER BY g.doc_id""".stripMargin,

    "q78_chunk_overlap" ->
      """SELECT doc_id, CAST(i AS INT) AS chunk_idx, text[i*120+1 : i*120+200] AS chunk,
        |  length(text[i*120+1 : i*120+200]) AS chunk_len
        |FROM documents,
        |  unnest(generate_series(0,
        |    CAST(ceil(greatest(length(text) - 200, 0) / 120.0) AS INT))) AS t(i)
        |WHERE length(text) > 0
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q77_range_join_rewrite" ->
      """SELECT s.s_suppkey, count(*) AS n_in_band,
        |  round(sum(c.c_acctbal), 2) AS sum_bal
        |FROM supplier s JOIN customer c
        |  ON c.c_acctbal > s.s_acctbal - 300 AND c.c_acctbal < s.s_acctbal + 300
        |GROUP BY s.s_suppkey
        |ORDER BY s.s_suppkey""".stripMargin,

    "q73_vocab_coverage" ->
      """WITH w AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |           FROM documents),
        |f AS (SELECT token, count(*) AS freq FROM w WHERE token <> '' GROUP BY token),
        |t AS (SELECT CAST(sum(freq) AS DOUBLE) AS tot FROM f),
        |top AS (SELECT token, freq FROM f ORDER BY freq DESC, token LIMIT 64)
        |SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) AS INT) AS rank,
        |  token, freq,
        |  round(CAST(sum(freq) OVER (ORDER BY freq DESC, token
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / tot, 6) AS cum_share
        |FROM top CROSS JOIN t
        |ORDER BY rank""".stripMargin,

    // Mirrors centroidReport(hashStable = true): every merge-order-
    // dependent float intermediate is rounded BEFORE it is consumed
    // (per-dim sums @4 → centroid, the three dot products @6 → cosine,
    // the cosine sum @4 → mean), so both engines compute from the
    // identical pinned values and the report hash-matches.
    "q74_centroid_report" ->
      """WITH clean AS (
        |  SELECT label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) > 0
        |    AND len(list_filter(embedding, x -> isnan(x))) = 0),
        |dims AS (
        |  SELECT label, i, round(sum(v[i]), 4) AS s, count(*) AS n
        |  FROM clean, unnest(generate_series(1, len(v))) AS t(i)
        |  GROUP BY label, i),
        |cent AS (
        |  SELECT label, list(s / n ORDER BY i) AS c FROM dims GROUP BY label),
        |scored AS (
        |  SELECT cl.label,
        |    round(list_dot_product(cl.v, ce.c), 6) AS dvc,
        |    round(list_dot_product(cl.v, cl.v), 6) AS dvv,
        |    round(list_dot_product(ce.c, ce.c), 6) AS dcc
        |  FROM clean cl JOIN cent ce USING (label)),
        |cosd AS (
        |  SELECT label,
        |    CASE WHEN dvv <= 0 OR dcc <= 0 THEN 0.0
        |         ELSE dvc / (sqrt(dvv) * sqrt(dcc)) END AS cos
        |  FROM scored)
        |SELECT label, count(*) AS n_vectors,
        |  round(round(sum(cos), 4) / count(*), 6) AS mean_cos_to_centroid,
        |  round(min(cos), 6) AS min_cos_to_centroid
        |FROM cosd GROUP BY label ORDER BY label""".stripMargin,

    "q75_curation_gate" ->
      """WITH w AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS word FROM documents),
        |wf AS (SELECT doc_id, word, count(*) AS c FROM w WHERE word <> '' GROUP BY 1, 2),
        |rep AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_word_frac
        |        FROM wf GROUP BY doc_id),
        |ws AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram
        |      FROM ws, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS t(i)
        |      WHERE len(ws) >= 2),
        |gf AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |dup AS (SELECT doc_id,
        |        round(CAST(sum(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END) AS DOUBLE)
        |          / sum(c * length(gram)), 6) AS dup_gram_char_frac
        |        FROM gf GROUP BY doc_id)
        |SELECT d.doc_id, d.lang, d.n_chars, rep.top_word_frac, dup.dup_gram_char_frac
        |FROM documents d JOIN rep USING (doc_id) JOIN dup USING (doc_id)
        |WHERE rep.top_word_frac <= 0.12 AND dup.dup_gram_char_frac <= 0.05
        |  AND d.n_chars BETWEEN 100 AND 500
        |ORDER BY d.doc_id""".stripMargin,

    "q68_line_dedup" ->
      """WITH l AS (
        |  SELECT doc_id, lang, ls[i] AS line, i AS pos
        |  FROM (SELECT doc_id, lang, string_split(text, chr(10)) AS ls FROM documents),
        |       unnest(generate_series(1, len(ls))) AS t(i)),
        |b AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
        |k AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |      FROM l WHERE line NOT IN (SELECT line FROM b) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(k.text, '') AS text, d.lang
        |FROM documents d LEFT JOIN k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q69_dup_ngram_profile" ->
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram
        |      FROM w, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS t(i)
        |      WHERE len(ws) >= 2),
        |gf AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_grams,
        |  count(*) AS distinct_grams,
        |  round(CAST(sum(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END) AS DOUBLE)
        |    / sum(c * length(gram)), 6) AS dup_gram_char_frac,
        |  round(CAST(max(c * length(gram)) AS DOUBLE)
        |    / sum(c * length(gram)), 6) AS top_gram_char_frac
        |FROM gf
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q70_sequence_pack" ->
      """WITH s AS (
        |  SELECT doc_id, lang, doc_id % 4 AS shard, n_chars,
        |    coalesce(sum(n_chars) OVER (
        |      PARTITION BY lang, doc_id % 4 ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
        |  FROM documents)
        |SELECT doc_id, lang, shard,
        |  CAST(floor(strt / 2048) AS BIGINT) AS pack_id,
        |  CAST(strt % 2048 AS BIGINT) AS pack_offset
        |FROM s
        |ORDER BY doc_id""".stripMargin,

    "q71_quantile_profile" ->
      """WITH q AS (
        |  SELECT lang, quantile_cont(n_chars, [0.25, 0.5, 0.75, 0.9, 0.99]) AS qv
        |  FROM documents GROUP BY lang)
        |SELECT lang,
        |  CAST(([0.25, 0.5, 0.75, 0.9, 0.99])[i] AS DOUBLE) AS quantile,
        |  round(qv[i], 4) AS value
        |FROM q, unnest(generate_series(1, 5)) AS t(i)
        |ORDER BY lang, quantile""".stripMargin,

    "q64_word_repetition" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |  FROM documents),
        |wf AS (SELECT doc_id, word, count(*) AS c FROM w
        |       WHERE word <> '' GROUP BY doc_id, word)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_words,
        |  count(*) AS distinct_words,
        |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_word_frac,
        |  round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr
        |FROM wf
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q67_cosine_join_rewrite" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
        |             ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END AS sim
        |      FROM n a, n b WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(sim, 6) AS sim FROM s
        |WHERE sim >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "q63_trend_anomaly" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT day, event_type, n,
        |    count(n) OVER win AS c,
        |    CAST(sum(n) OVER win AS DOUBLE) AS s1,
        |    CAST(sum(n*n) OVER win AS DOUBLE) AS s2
        |  FROM daily
        |  WINDOW win AS (PARTITION BY event_type ORDER BY day
        |                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT day, event_type, n, s1 / c AS mean,
        |    (s2 - s1 * s1 / c) / (c - 1) AS var
        |  FROM w WHERE c = 7)
        |SELECT CAST(day AS VARCHAR) AS day, event_type, n,
        |  round((n - mean) / sqrt(var), 4) AS z
        |FROM z
        |WHERE var > 0 AND abs(round((n - mean) / sqrt(var), 4)) >= 1.5
        |ORDER BY day, event_type""".stripMargin,

    "q62_budget_sample" ->
      """WITH s AS (
        |  SELECT doc_id, lang, n_chars,
        |    sum(n_chars) OVER (
        |      PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '|42'), doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents)
        |SELECT doc_id, lang, n_chars FROM s
        |WHERE cum <= 20000
        |ORDER BY doc_id""".stripMargin,

    "q61_hybrid_retrieval" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks WHERE term <> '' GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n, avg(CAST(coalesce(dl.dl, 0) AS DOUBLE)) AS avgdl
        |          FROM documents LEFT JOIN dl USING (doc_id)),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('spark', 'shuffle', 'join') GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |bm25 AS (SELECT tf.doc_id,
        |    round(sum(
        |      ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
        |      tf.tf * (1.2 + 1.0) /
        |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
        |    ), 4) AS bm25_score
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |  GROUP BY tf.doc_id
        |  ORDER BY bm25_score DESC, tf.doc_id
        |  LIMIT 50),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |r AS (SELECT b.doc_id, b.bm25_score,
        |        CASE WHEN sqrt(list_dot_product(e.ev, e.ev)) = 0
        |               OR sqrt(list_dot_product(q.qv, q.qv)) = 0 THEN 0.0
        |             ELSE list_dot_product(e.ev, q.qv) /
        |                  (sqrt(list_dot_product(e.ev, e.ev)) * sqrt(list_dot_product(q.qv, q.qv)))
        |        END AS cos
        |      FROM bm25 b
        |      JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings) e
        |        ON b.doc_id = e.vec_id
        |      CROSS JOIN q
        |      WHERE NOT isnan(list_dot_product(e.ev, q.qv) /
        |        (CASE WHEN sqrt(list_dot_product(e.ev, e.ev)) *
        |                   sqrt(list_dot_product(q.qv, q.qv)) = 0 THEN 1.0
        |              ELSE sqrt(list_dot_product(e.ev, e.ev)) *
        |                   sqrt(list_dot_product(q.qv, q.qv)) END))
        |      ORDER BY cos DESC, b.doc_id
        |      LIMIT 10)
        |SELECT doc_id, bm25_score, round(cos, 6) AS cos_sim FROM r
        |ORDER BY cos_sim DESC, doc_id""".stripMargin,

    "q60_interval_join" ->
      """SELECT v.user_id,
        |  count(*) AS n_pairs,
        |  count(DISTINCT v.event_id) AS n_views_with_click
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON v.user_id = c.user_id
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
        |GROUP BY v.user_id
        |ORDER BY v.user_id""".stripMargin,

    "q58_jaccard_join_rewrite" ->
      """WITH g AS (SELECT doc_id, list_distinct(list_filter(
        |        list_transform(range(1, greatest(length(text) - 11, 0) + 2),
        |          i -> text[i:i+11]),
        |        x -> length(x) = 12)) AS grams FROM documents),
        |p AS (SELECT a.doc_id AS eval_id, b.doc_id AS doc_id,
        |        a.grams AS ga, b.grams AS gb
        |      FROM g a, g b WHERE a.doc_id % 20 = 0 AND a.doc_id <> b.doc_id),
        |j AS (SELECT eval_id, doc_id,
        |        CASE WHEN len(list_distinct(list_concat(ga, gb))) = 0 THEN 1.0
        |          ELSE len(list_filter(ga, x -> list_contains(gb, x))) * 1.0 /
        |               len(list_distinct(list_concat(ga, gb))) END AS jac
        |      FROM p)
        |SELECT eval_id, doc_id, round(jac, 6) AS jaccard FROM j
        |WHERE jac >= 0.5
        |ORDER BY eval_id, doc_id""".stripMargin,

    "q46_embedding_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
        |             ELSE list_max(list_transform(v, x -> abs(x))) / 127.0 END AS scale
        |      FROM e),
        |d AS (SELECT vec_id, v, scale,
        |        list_transform(v, x -> round(x / scale) * scale) AS dq
        |      FROM s),
        |m AS (SELECT vec_id, scale, v, dq,
        |        list_max(list_transform(range(1, len(v) + 1),
        |          i -> abs(v[i] - dq[i]))) AS max_err,
        |        CASE WHEN sqrt(list_dot_product(v, v)) = 0
        |               OR sqrt(list_dot_product(dq, dq)) = 0 THEN 0.0
        |             ELSE list_dot_product(v, dq) /
        |               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(dq, dq)))
        |        END AS cos
        |      FROM d)
        |SELECT vec_id, round(scale, 9) AS scale, round(max_err, 9) AS max_err,
        |  round(cos, 6) AS cos_sim
        |FROM m
        |ORDER BY vec_id""".stripMargin,

    // q116: cells are exported seeded state (hyperplane signs — DuckDB
    // cannot recompute xxhash-seeded projections); the within-cell
    // cosine gate and the anti-join are replayed independently. The
    // CASE matches Similarity.cosine's zero-norm → 0 contract.
    "q116_semantic_decontaminate" ->
      """WITH cor AS (
        |  SELECT cell, vec_id, vec
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q116_corpus/*.parquet')),
        |ev AS (
        |  SELECT cell, vec
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q116_eval/*.parquet')),
        |hit AS (
        |  SELECT DISTINCT c.vec_id
        |  FROM cor c JOIN ev e ON c.cell = e.cell
        |  WHERE CASE WHEN sqrt(list_dot_product(c.vec, c.vec)) = 0
        |              OR sqrt(list_dot_product(e.vec, e.vec)) = 0 THEN 0.0
        |         ELSE list_dot_product(c.vec, e.vec) /
        |              (sqrt(list_dot_product(c.vec, c.vec)) *
        |               sqrt(list_dot_product(e.vec, e.vec))) END >= 0.2)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id % 10 <> 0 AND vec_id NOT IN (SELECT vec_id FROM hit)
        |ORDER BY vec_id""".stripMargin,

    "q117_weighted_sample" ->
      """WITH u AS (
        |  SELECT doc_id, u
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q117_uniforms/*.parquet')),
        |s AS (
        |  SELECT d.doc_id, d.lang, d.n_chars,
        |    round(pow(u.u, 1.0 / d.n_chars), 9) AS ws
        |  FROM documents d JOIN u USING (doc_id)
        |  WHERE d.n_chars IS NOT NULL AND d.n_chars > 0),
        |top AS (
        |  SELECT doc_id, lang, n_chars FROM s ORDER BY ws DESC, doc_id LIMIT 100)
        |SELECT doc_id, lang, n_chars FROM top ORDER BY doc_id""".stripMargin,

    "q118_soft_dedup_weights" ->
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |g AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |      FROM n a, n b WHERE a.vec_id < b.vec_id
        |        AND (CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
        |             ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END) >= 0.4),
        |edges AS (SELECT id_a AS a, id_b AS b FROM g
        |          UNION ALL SELECT id_b, id_a FROM g),
        |reach(id, m) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e2.a, r.m FROM edges e2 JOIN reach r ON r.id = e2.b),
        |comp AS (SELECT id AS vec_id, min(m) AS cluster_id FROM reach GROUP BY id),
        |sz AS (SELECT cluster_id, count(*) AS dup_cluster_size
        |       FROM comp GROUP BY cluster_id)
        |SELECT c.vec_id, emb.label,
        |  CAST(s2.dup_cluster_size AS BIGINT) AS dup_cluster_size,
        |  round(CAST(1.0 AS DOUBLE) / s2.dup_cluster_size, 9) AS soft_weight
        |FROM comp c
        |JOIN sz s2 USING (cluster_id)
        |JOIN embeddings emb USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    "q119_strip_markup" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    '<html><head><style>p{color:red}</style></head><body><!-- note ' ||
        |    CAST(doc_id AS VARCHAR) ||
        |    ' --><p class="x">' || text ||
        |    '</p><script>var a=1;</script>&nbsp;&amp; tail &#65;&amp;lt;</body></html>' AS t
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, t,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(
        |                regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g'),
        |                '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |            '<[^>]*>', ' ', 'g'),
        |          '&#[0-9]{1,7};|&#[xX][0-9A-Fa-f]{1,6};', ' ', 'g'),
        |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |        '&apos;', ''''), '&amp;', '&'),
        |      '[ \t\n\r\f]+', ' ', 'g')) AS stripped
        |  FROM raw)
        |SELECT doc_id, stripped AS text,
        |  round(1.0 - CAST(length(stripped) AS DOUBLE) / length(t), 6) AS markup_ratio
        |FROM s ORDER BY doc_id""".stripMargin,

    // q120: the salted two-stage cap is output-identical to a plain
    // single-window cap, so the oracle IS the plain cap — one window
    // in the shared md5 order, no exported state.
    "q120_source_cap" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '|42'), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, source FROM ranked
        |WHERE rn <= 15
        |ORDER BY doc_id""".stripMargin,

    // q121: brute-force band replay. Enumeration admits RAW sim >= lo
    // (similarPairs's filter), the hi bound and the ranking use the
    // ROUNDED sim — exactly the operator's cross-engine contract.
    "q121_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE embedding IS NOT NULL
        |    AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> isnan(x))) = 0),
        |s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        CASE WHEN sqrt(list_dot_product(a.v, a.v)) = 0
        |              OR sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
        |         ELSE list_dot_product(a.v, b.v) /
        |              (sqrt(list_dot_product(a.v, a.v)) *
        |               sqrt(list_dot_product(b.v, b.v))) END AS sim
        |      FROM e a, e b WHERE a.vec_id < b.vec_id),
        |p AS (SELECT id_a, id_b, round(sim, 6) AS sim FROM s
        |      WHERE sim >= 0.3 AND round(sim, 6) < 0.8),
        |sym AS (SELECT id_a AS anchor_id, id_b AS neg_id, sim FROM p
        |        UNION ALL SELECT id_b, id_a, sim FROM p),
        |r AS (SELECT anchor_id, neg_id, sim, row_number() OVER (
        |        PARTITION BY anchor_id ORDER BY sim DESC, neg_id) AS rank
        |      FROM sym)
        |SELECT anchor_id, neg_id, sim, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 5
        |ORDER BY anchor_id, rank""".stripMargin,

    "q122_chunk_concat" ->
      """WITH s AS (
        |  SELECT doc_id, lang, doc_id % 4 AS shard, n_chars,
        |    coalesce(sum(n_chars) OVER (
        |      PARTITION BY lang, doc_id % 4 ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND n_chars > 0),
        |e AS (
        |  SELECT doc_id, lang, shard, n_chars, strt,
        |    unnest(generate_series(CAST(floor(strt / 2048) AS BIGINT),
        |      CAST(floor((strt + n_chars - 1) / 2048) AS BIGINT))) AS chunk_id
        |  FROM s)
        |SELECT doc_id, lang, shard, chunk_id,
        |  CAST(greatest(0, chunk_id * 2048 - strt) AS BIGINT) AS seg_begin,
        |  CAST(least(n_chars, (chunk_id + 1) * 2048 - strt) -
        |       greatest(0, chunk_id * 2048 - strt) AS BIGINT) AS seg_len,
        |  CAST(strt + greatest(0, chunk_id * 2048 - strt) -
        |       chunk_id * 2048 AS BIGINT) AS chunk_offset
        |FROM e
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // q123: the full canonicalization chain replayed — same RE2
    // patterns, engine-local replacement syntax.
    "q123_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN 'https://EXAMPLE.com/articles/' || (doc_id // 4)
        |      WHEN 1 THEN 'https://example.com:443/articles/' || (doc_id // 4) || '#section-2'
        |      WHEN 2 THEN 'https://example.com/articles/' || (doc_id // 4) || '?utm_source=feed&gclid=abc'
        |      ELSE 'https://example.com/articles/' || (doc_id // 4) || '/?ref=home' END AS url
        |  FROM documents),
        |nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS nofrag FROM u),
        |hd AS (SELECT doc_id, nofrag,
        |         regexp_extract(nofrag, '^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*', 0) AS head
        |       FROM nf),
        |lo AS (SELECT doc_id, nofrag, head, lower(head) AS lh FROM hd),
        |pt AS (SELECT doc_id, nofrag, head,
        |         CASE WHEN lh LIKE 'http://%' AND lh LIKE '%:80'
        |                THEN substr(lh, 1, length(lh) - 3)
        |              WHEN lh LIKE 'https://%' AND lh LIKE '%:443'
        |                THEN substr(lh, 1, length(lh) - 4)
        |              ELSE lh END AS lh2
        |       FROM lo),
        |rb AS (SELECT doc_id, lh2 || substr(nofrag, length(head) + 1) AS r FROM pt),
        |cn AS (SELECT doc_id, regexp_replace(
        |         regexp_replace(
        |           regexp_replace(
        |             regexp_replace(r,
        |               '&(?:utm_[^&#=]*|gclid|fbclid|msclkid|ref)=[^&]*', '', 'g'),
        |             '\?(?:utm_[^&#=]*|gclid|fbclid|msclkid|ref)=[^&]*&', '?', 'g'),
        |           '\?(?:utm_[^&#=]*|gclid|fbclid|msclkid|ref)=[^&]*$', '', 'g'),
        |         '/+$', '', 'g') AS canonical_url
        |       FROM rb),
        |agg AS (SELECT canonical_url, min(doc_id) AS doc_id,
        |          count(*) AS n_variants
        |        FROM cn GROUP BY canonical_url)
        |SELECT canonical_url, doc_id, CAST(n_variants AS BIGINT) AS n_variants
        |FROM agg
        |ORDER BY canonical_url, doc_id""".stripMargin,

    // q124: candidates from exported signature collisions; the
    // top-probeK cut ranks the RAW sim (lshTopK's internal order), the
    // band and the final re-rank use the ROUNDED sim it emits.
    "q124_hard_negatives_ann" ->
      """WITH sigs AS (
        |  SELECT vec_id, t, sig
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q124_sigs/*.parquet')),
        |e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE embedding IS NOT NULL
        |    AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> isnan(x))) = 0),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS neg_id
        |  FROM sigs a JOIN sigs b ON a.t = b.t AND a.sig = b.sig
        |  WHERE a.vec_id <> b.vec_id),
        |ap AS (
        |  SELECT anchor_id, neg_id,
        |    CASE WHEN sqrt(list_dot_product(qa.v, qa.v)) = 0
        |          OR sqrt(list_dot_product(qb.v, qb.v)) = 0 THEN 0.0
        |     ELSE list_dot_product(qa.v, qb.v) /
        |          (sqrt(list_dot_product(qa.v, qa.v)) *
        |           sqrt(list_dot_product(qb.v, qb.v))) END AS sim
        |  FROM cand JOIN e qa ON qa.vec_id = anchor_id
        |            JOIN e qb ON qb.vec_id = neg_id),
        |topk AS (
        |  SELECT anchor_id, neg_id, round(sim, 6) AS sim FROM (
        |    SELECT anchor_id, neg_id, sim, row_number() OVER (
        |      PARTITION BY anchor_id ORDER BY sim DESC, neg_id) AS rk FROM ap)
        |  WHERE rk <= 40),
        |band AS (SELECT anchor_id, neg_id, sim FROM topk
        |         WHERE sim >= 0.3 AND sim < 0.8),
        |r AS (SELECT anchor_id, neg_id, sim, row_number() OVER (
        |        PARTITION BY anchor_id ORDER BY sim DESC, neg_id) AS rank
        |      FROM band)
        |SELECT anchor_id, neg_id, sim, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 5
        |ORDER BY anchor_id, rank""".stripMargin,

    // q125: multinomial NB with Laplace(+1) smoothing over the shared
    // lowercased-whitespace tokenization; unseen tokens ignored
    // (inner join), token-less docs score exactly the prior.
    "q125_quality_classifier" ->
      """WITH lab AS (
        |  SELECT doc_id, text, n_chars >= 300 AS pos FROM documents),
        |tok AS (
        |  SELECT doc_id, pos,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> '')) AS token
        |  FROM lab),
        |cnt AS (
        |  SELECT token,
        |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |    sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cneg
        |  FROM tok GROUP BY token),
        |tot AS (SELECT sum(cpos) AS np, sum(cneg) AS nn, count(*) AS v FROM cnt),
        |llr AS (
        |  SELECT token,
        |    ln((cpos + 1.0) / (np + v)) - ln((cneg + 1.0) / (nn + v)) AS w
        |  FROM cnt, tot),
        |prior AS (
        |  SELECT ln(sum(CASE WHEN pos THEN 1 ELSE 0 END) * 1.0 /
        |            sum(CASE WHEN NOT pos THEN 1 ELSE 0 END)) AS p
        |  FROM lab),
        |sc AS (
        |  SELECT t.doc_id, sum(w) AS s FROM tok t JOIN llr USING (token)
        |  GROUP BY t.doc_id)
        |SELECT l.doc_id,
        |  round(coalesce(s, 0) + p, 4) AS nb_llr,
        |  (coalesce(s, 0) + p) > 0 AS hq
        |FROM lab l LEFT JOIN sc ON l.doc_id = sc.doc_id, prior
        |ORDER BY l.doc_id""".stripMargin,

    // q126: the map-side kernel must reproduce q125 exactly — one
    // shared oracle text.
    "q126_quality_gate_mapside" ->
      """WITH lab AS (
        |  SELECT doc_id, text, n_chars >= 300 AS pos FROM documents),
        |tok AS (
        |  SELECT doc_id, pos,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> '')) AS token
        |  FROM lab),
        |cnt AS (
        |  SELECT token,
        |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |    sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cneg
        |  FROM tok GROUP BY token),
        |tot AS (SELECT sum(cpos) AS np, sum(cneg) AS nn, count(*) AS v FROM cnt),
        |llr AS (
        |  SELECT token,
        |    ln((cpos + 1.0) / (np + v)) - ln((cneg + 1.0) / (nn + v)) AS w
        |  FROM cnt, tot),
        |prior AS (
        |  SELECT ln(sum(CASE WHEN pos THEN 1 ELSE 0 END) * 1.0 /
        |            sum(CASE WHEN NOT pos THEN 1 ELSE 0 END)) AS p
        |  FROM lab),
        |sc AS (
        |  SELECT t.doc_id, sum(w) AS s FROM tok t JOIN llr USING (token)
        |  GROUP BY t.doc_id)
        |SELECT l.doc_id,
        |  round(coalesce(s, 0) + p, 4) AS nb_llr,
        |  (coalesce(s, 0) + p) > 0 AS hq
        |FROM lab l LEFT JOIN sc ON l.doc_id = sc.doc_id, prior
        |ORDER BY l.doc_id""".stripMargin,

    // q127: physical half from the blob listing, logical half from a
    // hive-partitioned grouped count — over the exact files the
    // engine wrote.
    "q127_release_manifest" ->
      """WITH f AS (
        |  SELECT regexp_extract(filename, 'lang=([^/]+)', 1) AS lang, size
        |  FROM read_blob('__GRAFT_STATE_DIR__/q127_release/*/*.parquet')),
        |fa AS (SELECT lang, count(*) AS n_files, sum(size) AS size_bytes
        |       FROM f GROUP BY lang),
        |r AS (SELECT lang, count(*) AS n_rows
        |      FROM read_parquet('__GRAFT_STATE_DIR__/q127_release/*/*.parquet',
        |                        hive_partitioning=1)
        |      GROUP BY lang)
        |SELECT fa.lang, CAST(n_files AS BIGINT) AS n_files,
        |       CAST(size_bytes AS BIGINT) AS size_bytes,
        |       CAST(n_rows AS BIGINT) AS n_rows
        |FROM fa JOIN r ON fa.lang = r.lang
        |ORDER BY fa.lang""".stripMargin,

    // q128: q125's replay with the stratum riding every group key —
    // per-stratum class totals, vocabulary size and prior.
    "q128_quality_classifier_per_lang" ->
      """WITH lab AS (
        |  SELECT doc_id, lang, text, n_chars >= 300 AS pos FROM documents),
        |tok AS (
        |  SELECT doc_id, lang, pos,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> '')) AS token
        |  FROM lab),
        |cnt AS (
        |  SELECT lang, token,
        |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |    sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cneg
        |  FROM tok GROUP BY lang, token),
        |tot AS (SELECT lang, sum(cpos) AS np, sum(cneg) AS nn, count(*) AS v
        |        FROM cnt GROUP BY lang),
        |llr AS (
        |  SELECT cnt.lang, token,
        |    ln((cpos + 1.0) / (np + v)) - ln((cneg + 1.0) / (nn + v)) AS w
        |  FROM cnt JOIN tot ON cnt.lang = tot.lang),
        |prior AS (
        |  SELECT lang,
        |    CASE WHEN sum(CASE WHEN pos THEN 1 ELSE 0 END) > 0
        |          AND sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) > 0
        |      THEN ln(sum(CASE WHEN pos THEN 1 ELSE 0 END) * 1.0 /
        |              sum(CASE WHEN NOT pos THEN 1 ELSE 0 END)) END AS p
        |  FROM lab GROUP BY lang),
        |sc AS (
        |  SELECT t.doc_id, sum(w) AS s
        |  FROM tok t JOIN llr ON t.lang = llr.lang AND t.token = llr.token
        |  GROUP BY t.doc_id)
        |SELECT l.doc_id, l.lang AS stratum,
        |  round(coalesce(s, 0) + p, 4) AS nb_llr,
        |  (coalesce(s, 0) + p) > 0 AS hq
        |FROM lab l LEFT JOIN sc ON l.doc_id = sc.doc_id
        |JOIN prior ON l.lang = prior.lang
        |ORDER BY l.doc_id""".stripMargin,

    // q129/q130: full winnowing replay — the rightmost-min-per-window
    // selection as the same frame-bounded window-min predicate the
    // engine evaluates (WinnowSpec fuzz-proves the reformulation).
    "q129_winnow_fingerprints" ->
      """WITH w0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |    CAST(('0x' || substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 15))
        |      AS BIGINT) AS h
        |  FROM w0, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
        |b AS (SELECT doc_id, pos, h,
        |    count(*) OVER (PARTITION BY doc_id) AS n,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING) AS pm1,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS pm2,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS pm3,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 1 FOLLOWING) AS nm1,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS nm2,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS nm3
        |  FROM g)
        |SELECT doc_id, pos, h AS fp FROM b
        |WHERE (pos <= n - 3 AND coalesce(nm3 > h, TRUE))
        |   OR (pos - 1 >= 1 AND pos - 1 <= n - 3
        |       AND coalesce(pm1 >= h, TRUE) AND coalesce(nm2 > h, TRUE))
        |   OR (pos - 2 >= 1 AND pos - 2 <= n - 3
        |       AND coalesce(pm2 >= h, TRUE) AND coalesce(nm1 > h, TRUE))
        |   OR (pos - 3 >= 1 AND pos - 3 <= n - 3 AND coalesce(pm3 >= h, TRUE))
        |ORDER BY doc_id, pos""".stripMargin,

    "q130_winnow_overlap" ->
      """WITH w0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |    CAST(('0x' || substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 15))
        |      AS BIGINT) AS h
        |  FROM w0, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
        |b AS (SELECT doc_id, pos, h,
        |    count(*) OVER (PARTITION BY doc_id) AS n,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING) AS pm1,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS pm2,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS pm3,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 1 FOLLOWING) AS nm1,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS nm2,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS nm3
        |  FROM g),
        |sel AS (SELECT doc_id, pos, h FROM b
        |  WHERE (pos <= n - 3 AND coalesce(nm3 > h, TRUE))
        |     OR (pos - 1 >= 1 AND pos - 1 <= n - 3
        |         AND coalesce(pm1 >= h, TRUE) AND coalesce(nm2 > h, TRUE))
        |     OR (pos - 2 >= 1 AND pos - 2 <= n - 3
        |         AND coalesce(pm2 >= h, TRUE) AND coalesce(nm1 > h, TRUE))
        |     OR (pos - 3 >= 1 AND pos - 3 <= n - 3
        |         AND coalesce(pm3 >= h, TRUE))),
        |fp AS (SELECT DISTINCT doc_id, h FROM sel),
        |dfs AS (SELECT h FROM fp GROUP BY h
        |        HAVING count(*) >= 2 AND count(*) <= 64),
        |keyed AS (SELECT doc_id, h FROM fp JOIN dfs USING (h))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(count(*) AS BIGINT) AS shared_fps
        |FROM keyed a JOIN keyed b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin,

    "q131_ngram_novelty" ->
      """WITH w0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS gram
        |  FROM w0, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
        |own AS (SELECT gram, min(doc_id) AS owner FROM g GROUP BY gram),
        |per AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN own.owner = g.doc_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_novel
        |  FROM g JOIN own USING (gram) GROUP BY g.doc_id)
        |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
        |  coalesce(n_novel, 0) AS n_novel,
        |  CASE WHEN n_grams > 0
        |    THEN round(n_novel * 1.0 / n_grams, 6) END AS novelty
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q132_domain_reweight" ->
      """WITH per AS (SELECT source AS domain,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS DOUBLE) AS sl
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tn, sum(sl) AS tl,
        |    CAST(count(*) AS BIGINT) AS k FROM per),
        |upd AS (SELECT domain, n_docs,
        |    greatest(sl / n_docs - (SELECT tl FROM tot) * 1.0 /
        |      (SELECT tn FROM tot), 0.0) AS excess,
        |    n_docs * 1.0 / (SELECT tn FROM tot) *
        |      exp(0.01 * greatest(sl / n_docs - (SELECT tl FROM tot) * 1.0 /
        |        (SELECT tn FROM tot), 0.0)) AS up
        |  FROM per),
        |norm AS (SELECT sum(up) AS z FROM upd)
        |SELECT domain, n_docs, round(excess, 6) AS excess,
        |  round(0.99 * up / (SELECT z FROM norm) +
        |    0.01 / (SELECT k FROM tot), 6) AS weight
        |FROM upd ORDER BY domain""".stripMargin,

    "q133_incremental_novelty" ->
      """WITH w0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS gram
        |  FROM w0, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
        |state AS (SELECT DISTINCT gram FROM g WHERE doc_id < 400),
        |bat AS (SELECT doc_id, gram FROM g WHERE doc_id >= 400),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN gram IN (SELECT gram FROM state)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS n_new
        |  FROM bat GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
        |  coalesce(n_new, 0) AS n_new,
        |  CASE WHEN n_grams > 0
        |    THEN round(n_new * 1.0 / n_grams, 6) END AS novelty
        |FROM (SELECT doc_id FROM documents WHERE doc_id >= 400) d
        |LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // q136: q129's selection replay, positions dropped, per-doc
    // distinct — exactly the native kernel's output contract.
    "q136_winnow_fps_native" ->
      """WITH w0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |    CAST(('0x' || substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 15))
        |      AS BIGINT) AS h
        |  FROM w0, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
        |b AS (SELECT doc_id, pos, h,
        |    count(*) OVER (PARTITION BY doc_id) AS n,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING) AS pm1,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS pm2,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS pm3,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 1 FOLLOWING) AS nm1,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS nm2,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS nm3
        |  FROM g)
        |SELECT DISTINCT doc_id, h AS fp FROM b
        |WHERE (pos <= n - 3 AND coalesce(nm3 > h, TRUE))
        |   OR (pos - 1 >= 1 AND pos - 1 <= n - 3
        |       AND coalesce(pm1 >= h, TRUE) AND coalesce(nm2 > h, TRUE))
        |   OR (pos - 2 >= 1 AND pos - 2 <= n - 3
        |       AND coalesce(pm2 >= h, TRUE) AND coalesce(nm1 > h, TRUE))
        |   OR (pos - 3 >= 1 AND pos - 3 <= n - 3 AND coalesce(pm3 >= h, TRUE))
        |ORDER BY doc_id, fp""".stripMargin,

    // q135: the q129 selection replay split into state (corpus fps,
    // build-time df cap) and batch sides, joined on the fingerprint.
    "q135_winnow_incremental" ->
      """WITH w0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |    CAST(('0x' || substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 15))
        |      AS BIGINT) AS h
        |  FROM w0, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
        |b AS (SELECT doc_id, pos, h,
        |    count(*) OVER (PARTITION BY doc_id) AS n,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING) AS pm1,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS pm2,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS pm3,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 1 FOLLOWING) AS nm1,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS nm2,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS nm3
        |  FROM g),
        |sel AS (SELECT doc_id, h FROM b
        |  WHERE (pos <= n - 3 AND coalesce(nm3 > h, TRUE))
        |     OR (pos - 1 >= 1 AND pos - 1 <= n - 3
        |         AND coalesce(pm1 >= h, TRUE) AND coalesce(nm2 > h, TRUE))
        |     OR (pos - 2 >= 1 AND pos - 2 <= n - 3
        |         AND coalesce(pm2 >= h, TRUE) AND coalesce(nm1 > h, TRUE))
        |     OR (pos - 3 >= 1 AND pos - 3 <= n - 3
        |         AND coalesce(pm3 >= h, TRUE))),
        |state AS (SELECT DISTINCT doc_id AS corpus_id, h FROM sel
        |  WHERE doc_id < 400),
        |keepfp AS (SELECT h FROM state GROUP BY h HAVING count(*) <= 64),
        |st AS (SELECT corpus_id, h FROM state JOIN keepfp USING (h)),
        |bat AS (SELECT DISTINCT doc_id, h FROM sel WHERE doc_id >= 400)
        |SELECT bat.doc_id, st.corpus_id,
        |  CAST(count(*) AS BIGINT) AS shared_fps
        |FROM bat JOIN st USING (h)
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_id, corpus_id""".stripMargin,

    // q139: the merge ≡ retrain guarantee — the oracle retrains from
    // scratch over the full corpus (q125's replay verbatim); the
    // engine's count-log merge must produce identical scores.
    "q139_incremental_classifier" ->
      """WITH lab AS (
        |  SELECT doc_id, text, n_chars >= 300 AS pos FROM documents),
        |tok AS (
        |  SELECT doc_id, pos,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> '')) AS token
        |  FROM lab),
        |cnt AS (
        |  SELECT token,
        |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |    sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cneg
        |  FROM tok GROUP BY token),
        |tot AS (SELECT sum(cpos) AS np, sum(cneg) AS nn, count(*) AS v FROM cnt),
        |llr AS (
        |  SELECT token,
        |    ln((cpos + 1.0) / (np + v)) - ln((cneg + 1.0) / (nn + v)) AS w
        |  FROM cnt, tot),
        |prior AS (
        |  SELECT ln(sum(CASE WHEN pos THEN 1 ELSE 0 END) * 1.0 /
        |            sum(CASE WHEN NOT pos THEN 1 ELSE 0 END)) AS p
        |  FROM lab),
        |sc AS (
        |  SELECT t.doc_id, sum(w) AS s FROM tok t JOIN llr USING (token)
        |  GROUP BY t.doc_id)
        |SELECT l.doc_id,
        |  round(coalesce(s, 0) + p, 4) AS nb_llr,
        |  (coalesce(s, 0) + p) > 0 AS hq
        |FROM lab l LEFT JOIN sc ON l.doc_id = sc.doc_id, prior
        |ORDER BY l.doc_id""".stripMargin,

    // q140: append ≡ rebuild for the BM25 index — the oracle is q54's
    // from-scratch BM25 replay over the full corpus, verbatim; the
    // engine's probe of the two-block posting state must match it.
    "q140_incremental_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks WHERE term <> '' GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n, avg(CAST(coalesce(dl.dl, 0) AS DOUBLE)) AS avgdl
        |          FROM documents LEFT JOIN dl USING (doc_id)),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('spark', 'shuffle', 'join') GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |SELECT tf.doc_id,
        |  round(sum(
        |    ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
        |    tf.tf * (1.2 + 1.0) /
        |    (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
        |  ), 4) AS bm25_score
        |FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |GROUP BY tf.doc_id
        |ORDER BY bm25_score DESC, tf.doc_id
        |LIMIT 20""".stripMargin,

    // q141: the dHash signatures are the exported decode state; the
    // oracle replays the full near-dup decision — all-pairs Hamming ≤ 8
    // + keep-lowest-id anti-join (exact thanks to the pigeonhole band
    // guarantee); undecoded rows (null dhash) never pair and survive.
    "q141_image_near_dedup" ->
      """WITH sigs AS (
        |  SELECT doc_id, decoded, width, height, dhash
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q141_sigs/*.parquet')),
        |dup AS (
        |  SELECT DISTINCT b.doc_id FROM sigs a JOIN sigs b
        |    ON a.doc_id < b.doc_id
        |   AND a.dhash IS NOT NULL AND b.dhash IS NOT NULL
        |   AND bit_count(xor(a.dhash, b.dhash)) <= 8)
        |SELECT doc_id, decoded, width, height FROM sigs
        |WHERE doc_id NOT IN (SELECT doc_id FROM dup)
        |ORDER BY doc_id""".stripMargin,

    // q142: the oracle recomputes the expected extraction from the
    // documents table alone — the engine's value only matches if the
    // synthesized PDFs decode (Flate), unescape, and page-join back
    // to the source text exactly.
    "q142_pdf_scan" ->
      """SELECT doc_id,
        |  text || chr(10) || 'doc ' || doc_id || ' page 2' AS pdf_text,
        |  2 AS pdf_pages, TRUE AS pdf_ok
        |FROM documents
        |WHERE doc_id % 10 = 0 AND text IS NOT NULL AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    // q163: identical recompute-from-documents shape for the CID-font
    // layout; the expected text is only reachable by decoding every
    // page's 2-byte codes through the font's /ToUnicode CMap (the
    // bytes on disk carry no readable text at all).
    "q163_pdf_cid_tounicode_scan" ->
      """SELECT doc_id,
        |  text || chr(10) || 'doc ' || doc_id || ' page 2' AS pdf_text,
        |  2 AS pdf_pages, TRUE AS pdf_ok
        |FROM documents
        |WHERE doc_id % 10 = 1 AND text IS NOT NULL AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    // q165/q166/q167: the same recompute-from-documents shape for the
    // LZW-filtered, /Differences-encoded, and RC4-encrypted layouts.
    "q165_pdf_lzw_scan" ->
      """SELECT doc_id,
        |  text || chr(10) || 'doc ' || doc_id || ' page 2' AS pdf_text,
        |  2 AS pdf_pages, TRUE AS pdf_ok
        |FROM documents
        |WHERE doc_id % 10 = 2 AND text IS NOT NULL AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    "q166_pdf_differences_scan" ->
      """SELECT doc_id,
        |  text || chr(10) || 'doc ' || doc_id || ' page 2 αΩ жЯ €“½ß”' AS pdf_text,
        |  2 AS pdf_pages, TRUE AS pdf_ok
        |FROM documents
        |WHERE doc_id % 10 = 3 AND text IS NOT NULL AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    "q167_pdf_encrypted_scan" ->
      """SELECT doc_id,
        |  text || chr(10) || 'doc ' || doc_id || ' page 2' AS pdf_text,
        |  2 AS pdf_pages, TRUE AS pdf_ok
        |FROM documents
        |WHERE doc_id % 10 = 4 AND text IS NOT NULL AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    // q168/q169: the same recompute-from-documents shape for the
    // AES-encrypted (AESV2 + AESV3 halves) and the Identity-H
    // predefined-CMap (no /ToUnicode) layouts.
    "q168_pdf_aes_scan" ->
      """SELECT doc_id,
        |  text || chr(10) || 'doc ' || doc_id || ' page 2' AS pdf_text,
        |  2 AS pdf_pages, TRUE AS pdf_ok
        |FROM documents
        |WHERE doc_id % 10 = 6 AND text IS NOT NULL AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    "q169_pdf_identity_cid_scan" ->
      """SELECT doc_id,
        |  text || chr(10) || 'doc ' || doc_id || ' page 2' AS pdf_text,
        |  2 AS pdf_pages, TRUE AS pdf_ok
        |FROM documents
        |WHERE doc_id % 10 = 7 AND text IS NOT NULL AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    // q171: the UniGB-UCS2-H half round-trips (its code space IS
    // Unicode); the GBK-EUC-H half is honest-empty (unbundled
    // registry tables — ok, zero pages, no text).
    "q171_pdf_registry_cmap_scan" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 20 = 8
        |    THEN text || chr(10) || 'doc ' || doc_id || ' page 2 漢字 中文 한글'
        |    ELSE '' END AS pdf_text,
        |  CASE WHEN doc_id % 20 = 8 THEN 2 ELSE 0 END AS pdf_pages,
        |  TRUE AS pdf_ok
        |FROM documents
        |WHERE doc_id % 10 = 8 AND text IS NOT NULL AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    // q153: identical recompute-from-documents shape for the PDF 1.5
    // layout; the expected page ORDER is only reachable through the
    // xref-stream + ObjStm walk (file order is reversed on disk).
    "q153_pdf_xref_stream_scan" ->
      """SELECT doc_id,
        |  text || chr(10) || 'doc ' || doc_id || ' page 2' AS pdf_text,
        |  2 AS pdf_pages, TRUE AS pdf_ok
        |FROM documents
        |WHERE doc_id % 10 = 5 AND text IS NOT NULL AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    // q143: exported eHash signatures; the oracle replays the full
    // near-dup decision (all-pairs Hamming ≤ 8 + keep-lowest-id);
    // undecoded clips never pair and survive.
    "q143_audio_near_dedup" ->
      """WITH sigs AS (
        |  SELECT doc_id, decoded, sample_rate, duration_ms, ehash
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q143_sigs/*.parquet')),
        |dup AS (
        |  SELECT DISTINCT b.doc_id FROM sigs a JOIN sigs b
        |    ON a.doc_id < b.doc_id
        |   AND a.ehash IS NOT NULL AND b.ehash IS NOT NULL
        |   AND bit_count(xor(a.ehash, b.ehash)) <= 8)
        |SELECT doc_id, decoded, sample_rate, duration_ms FROM sigs
        |WHERE doc_id NOT IN (SELECT doc_id FROM dup)
        |ORDER BY doc_id""".stripMargin,

    // q145: exported per-frame dHash signatures; the oracle replays
    // the position-aligned pair counting (≥ 2 sampled positions within
    // 8 bits) and the keep-lowest-id dedup; corrupt clips have no
    // signature rows and survive.
    "q145_video_near_dedup" ->
      """WITH sigs AS (
        |  SELECT doc_id, frame_pos, dhash
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q145_sigs/*.parquet')),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         count(DISTINCT a.frame_pos) AS m
        |  FROM sigs a JOIN sigs b
        |    ON a.doc_id < b.doc_id AND a.frame_pos = b.frame_pos
        |   AND bit_count(xor(a.dhash, b.dhash)) <= 8
        |  GROUP BY 1, 2),
        |dup AS (SELECT DISTINCT id_b AS doc_id FROM pairs WHERE m >= 2)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM dup)
        |ORDER BY doc_id""".stripMargin,

    // q149: q54's replay over the RETAINED corpus (doc_id % 6 <> 0)
    // with postings-derived stats (only docs with >= 1 token count in
    // N/avgdl — rebuildIndexStats's stated contract; every sf doc
    // tokenizes, so the distinction is dormant here and pinned by the
    // IncrementalSpec caveat case instead).
    "q149_bm25_takedown_rebuild" ->
      """WITH ret AS (SELECT * FROM documents WHERE doc_id % 6 <> 0),
        |toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM ret),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks WHERE term <> '' GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('spark', 'shuffle', 'join') GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |SELECT tf.doc_id,
        |  round(sum(
        |    ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
        |    tf.tf * (1.2 + 1.0) /
        |    (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
        |  ), 4) AS bm25_score
        |FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |GROUP BY tf.doc_id
        |ORDER BY bm25_score DESC, tf.doc_id
        |LIMIT 20""".stripMargin,

    // q148: exported eHash signatures + shard key; the oracle replays
    // the WITHIN-SHARD all-pairs Hamming decision (a.source =
    // b.source is part of the pair contract — cross-shard pairs are
    // out of scope by design).
    "q148_audio_sharded_neardup" ->
      """WITH sigs AS (
        |  SELECT doc_id, decoded, source, ehash
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q148_sigs/*.parquet')),
        |dup AS (
        |  SELECT DISTINCT b.doc_id FROM sigs a JOIN sigs b
        |    ON a.source = b.source AND a.doc_id < b.doc_id
        |   AND a.ehash IS NOT NULL AND b.ehash IS NOT NULL
        |   AND bit_count(xor(a.ehash, b.ehash)) <= 8)
        |SELECT doc_id, decoded, source FROM sigs
        |WHERE doc_id NOT IN (SELECT doc_id FROM dup)
        |ORDER BY doc_id""".stripMargin,

    // q146: Spark ran the WAVE loop; the oracle replays the
    // FROM-SCRATCH batch (keep each id unless a LOWER-id decoded
    // signature is within 8 bits — kept or dropped, the seen-not-kept
    // contract) over the exported signatures. Matching outputs check
    // the wave ≡ batch guarantee across engines.
    "q146_media_wave_ingest" ->
      """WITH sigs AS (
        |  SELECT doc_id, decoded, dhash
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q146_sigs/*.parquet')),
        |dup AS (
        |  SELECT DISTINCT b.doc_id FROM sigs b JOIN sigs a
        |    ON a.decoded AND b.decoded AND a.doc_id < b.doc_id
        |   AND bit_count(xor(a.dhash, b.dhash)) <= 8)
        |SELECT doc_id FROM sigs
        |WHERE doc_id NOT IN (SELECT doc_id FROM dup)
        |ORDER BY doc_id""".stripMargin,

    // q151: Spark ran wave → takedown → REBUILD → wave; the oracle
    // replays it all from the exported signatures: wave-1 keep-lowest
    // (decoded pairs only), retract %6==0 from gold, rebuild state =
    // retained gold's decoded sigs, wave-2 drop = in-wave pair OR
    // within 8 bits of rebuilt state. Undecodables pass everywhere.
    "q151_media_takedown_rebuild" ->
      """WITH sigs AS (
        |  SELECT doc_id, decoded, dhash
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q151_sigs/*.parquet')),
        |w1 AS (SELECT * FROM sigs WHERE doc_id % 3 < 2),
        |w1dup AS (
        |  SELECT DISTINCT b.doc_id FROM w1 b JOIN w1 a
        |    ON a.decoded AND b.decoded AND a.doc_id < b.doc_id
        |   AND bit_count(xor(a.dhash, b.dhash)) <= 8),
        |gold1 AS (SELECT doc_id FROM w1
        |          WHERE doc_id NOT IN (SELECT doc_id FROM w1dup)),
        |ret AS (SELECT doc_id FROM gold1 WHERE doc_id % 6 <> 0),
        |state AS (
        |  SELECT s.dhash FROM sigs s JOIN ret r USING (doc_id)
        |  WHERE s.decoded),
        |w2 AS (SELECT * FROM sigs WHERE doc_id % 3 = 2),
        |w2dup AS (
        |  SELECT DISTINCT b.doc_id FROM w2 b JOIN w2 a
        |    ON a.decoded AND b.decoded AND a.doc_id < b.doc_id
        |   AND bit_count(xor(a.dhash, b.dhash)) <= 8
        |  UNION
        |  SELECT DISTINCT b.doc_id FROM w2 b JOIN state s
        |    ON b.decoded AND bit_count(xor(b.dhash, s.dhash)) <= 8),
        |acc2 AS (SELECT doc_id FROM w2
        |         WHERE doc_id NOT IN (SELECT doc_id FROM w2dup))
        |SELECT doc_id FROM ret
        |UNION ALL SELECT doc_id FROM acc2
        |ORDER BY doc_id""".stripMargin,

    // q152: q151's replay for clips — positional pair counting
    // (≥ 2 distinct sampled positions within 8 bits) drives wave-1
    // keep-lowest, the rebuilt state anchors to retained gold's
    // frames, and wave 2 drops on in-wave OR against-state position
    // counts. Corrupt clips have no frame rows and pass everywhere;
    // the id universe is the documents table.
    "q152_video_takedown_rebuild" ->
      """WITH sigs AS (
        |  SELECT doc_id, frame_pos, dhash
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q152_sigs/*.parquet')),
        |w1ids AS (SELECT doc_id FROM documents WHERE doc_id % 3 < 2),
        |w1 AS (SELECT s.* FROM sigs s JOIN w1ids USING (doc_id)),
        |w1pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         count(DISTINCT a.frame_pos) AS m
        |  FROM w1 a JOIN w1 b
        |    ON a.doc_id < b.doc_id AND a.frame_pos = b.frame_pos
        |   AND bit_count(xor(a.dhash, b.dhash)) <= 8
        |  GROUP BY 1, 2),
        |w1dup AS (SELECT DISTINCT id_b AS doc_id FROM w1pairs WHERE m >= 2),
        |gold1 AS (SELECT doc_id FROM w1ids
        |          WHERE doc_id NOT IN (SELECT doc_id FROM w1dup)),
        |ret AS (SELECT doc_id FROM gold1 WHERE doc_id % 6 <> 0),
        |state AS (SELECT s.* FROM sigs s JOIN ret USING (doc_id)),
        |w2ids AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
        |w2 AS (SELECT s.* FROM sigs s JOIN w2ids USING (doc_id)),
        |w2inpairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         count(DISTINCT a.frame_pos) AS m
        |  FROM w2 a JOIN w2 b
        |    ON a.doc_id < b.doc_id AND a.frame_pos = b.frame_pos
        |   AND bit_count(xor(a.dhash, b.dhash)) <= 8
        |  GROUP BY 1, 2),
        |w2stpairs AS (
        |  SELECT b.doc_id, c.doc_id AS cid,
        |         count(DISTINCT b.frame_pos) AS m
        |  FROM w2 b JOIN state c
        |    ON b.frame_pos = c.frame_pos
        |   AND bit_count(xor(b.dhash, c.dhash)) <= 8
        |  GROUP BY 1, 2),
        |w2dup AS (
        |  SELECT DISTINCT id_b AS doc_id FROM w2inpairs WHERE m >= 2
        |  UNION
        |  SELECT DISTINCT doc_id FROM w2stpairs WHERE m >= 2),
        |acc2 AS (SELECT doc_id FROM w2ids
        |         WHERE doc_id NOT IN (SELECT doc_id FROM w2dup))
        |SELECT doc_id FROM ret
        |UNION ALL SELECT doc_id FROM acc2
        |ORDER BY doc_id""".stripMargin,

    // q150: Spark ran the VIDEO wave loop over positional state; the
    // oracle replays the from-scratch batch (drop a clip iff ≥ 2
    // distinct sampled positions are within 8 bits of a LOWER-id
    // decoded clip — kept or dropped, the seen-not-kept contract;
    // corrupt clips have no frame rows and survive).
    "q150_video_wave_ingest" ->
      """WITH sigs AS (
        |  SELECT doc_id, frame_pos, dhash
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q150_sigs/*.parquet')),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         count(DISTINCT a.frame_pos) AS m
        |  FROM sigs a JOIN sigs b
        |    ON a.doc_id < b.doc_id AND a.frame_pos = b.frame_pos
        |   AND bit_count(xor(a.dhash, b.dhash)) <= 8
        |  GROUP BY 1, 2),
        |dup AS (SELECT DISTINCT id_b AS doc_id FROM pairs WHERE m >= 2)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM dup)
        |ORDER BY doc_id""".stripMargin,

    // q144: append ≡ rebuild for the Hamming state — the oracle
    // replays the probe brute-force over the exported signatures
    // (corpus = even ids, i.e. the written ∪ appended halves).
    "q144_incremental_hamming" ->
      """WITH sigs AS (
        |  SELECT doc_id, sig FROM read_parquet('__GRAFT_STATE_DIR__/q144_sigs/*.parquet')),
        |cor AS (SELECT * FROM sigs WHERE doc_id % 2 = 0),
        |inc AS (SELECT * FROM sigs WHERE doc_id % 2 = 1),
        |dup AS (
        |  SELECT DISTINCT i.doc_id FROM inc i JOIN cor c
        |    ON bit_count(xor(i.sig, c.sig)) <= 8)
        |SELECT doc_id FROM inc
        |WHERE doc_id NOT IN (SELECT doc_id FROM dup)
        |ORDER BY doc_id""".stripMargin,

    // q147: append ≡ rebuild for the POSITIONAL Hamming state — the
    // oracle replays the probe brute-force over the exported frame
    // signatures (state = even clips, written ∪ appended; a probe
    // clip drops when ≥ 2 distinct sampled positions are within 8
    // bits of SOME single state clip). Corrupt odd clips have no
    // frame rows and survive.
    "q147_video_frame_state" ->
      """WITH sigs AS (
        |  SELECT doc_id, frame_pos, dhash
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q147_sigs/*.parquet')),
        |cor AS (SELECT * FROM sigs WHERE doc_id % 2 = 0),
        |inc AS (SELECT * FROM sigs WHERE doc_id % 2 = 1),
        |pairs AS (
        |  SELECT i.doc_id, c.doc_id AS cid,
        |         count(DISTINCT i.frame_pos) AS m
        |  FROM inc i JOIN cor c
        |    ON i.frame_pos = c.frame_pos
        |   AND bit_count(xor(i.dhash, c.dhash)) <= 8
        |  GROUP BY 1, 2),
        |dup AS (SELECT DISTINCT doc_id FROM pairs WHERE m >= 2)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM dup)
        |ORDER BY doc_id""".stripMargin,

    // q155: the q135 winnow-selection replay over the PLANTED corpus,
    // with the df cap re-counted over retained rows only — the oracle
    // IS writeFingerprintTable-over-retained, recomputed from text.
    "q155_fingerprint_full_rebuild" ->
      """WITH w0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(
        |      text || CASE WHEN doc_id % 20 = 0
        |          OR (doc_id >= 300 AND doc_id % 31 = 0)
        |        THEN ' px1 px2 px3 px4 px5 px6 px7 px8 px9 pxa pxb pxc'
        |        ELSE '' END)), '\s+'), x -> x <> '') AS ws
        |  FROM documents WHERE doc_id < 400),
        |g AS (SELECT doc_id, i AS pos,
        |    CAST(('0x' || substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 15))
        |      AS BIGINT) AS h
        |  FROM w0, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
        |b AS (SELECT doc_id, pos, h,
        |    count(*) OVER (PARTITION BY doc_id) AS n,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING) AS pm1,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS pm2,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS pm3,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 1 FOLLOWING) AS nm1,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS nm2,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS nm3
        |  FROM g),
        |sel AS (SELECT doc_id, h FROM b
        |  WHERE (pos <= n - 3 AND coalesce(nm3 > h, TRUE))
        |     OR (pos - 1 >= 1 AND pos - 1 <= n - 3
        |         AND coalesce(pm1 >= h, TRUE) AND coalesce(nm2 > h, TRUE))
        |     OR (pos - 2 >= 1 AND pos - 2 <= n - 3
        |         AND coalesce(pm2 >= h, TRUE) AND coalesce(nm1 > h, TRUE))
        |     OR (pos - 3 >= 1 AND pos - 3 <= n - 3
        |         AND coalesce(pm3 >= h, TRUE))),
        |state AS (SELECT DISTINCT h AS fp, doc_id AS corpus_id FROM sel
        |  WHERE doc_id % 7 <> 0),
        |keepfp AS (SELECT fp FROM state GROUP BY fp HAVING count(*) <= 8)
        |SELECT fp, corpus_id FROM state JOIN keepfp USING (fp)
        |ORDER BY fp, corpus_id""".stripMargin,

    // q154: the q147 replay with the exported shard tag riding the
    // join — matches only within equal shard values, NULL shards one
    // group (IS NOT DISTINCT FROM ≡ the engine's canonical "n"/"v+x"
    // string fold).
    "q154_video_frame_state_sharded" ->
      """WITH sigs AS (
        |  SELECT doc_id, frame_pos, dhash, src
        |  FROM read_parquet('__GRAFT_STATE_DIR__/q154_sigs/*.parquet')),
        |cor AS (SELECT * FROM sigs WHERE doc_id % 2 = 0),
        |inc AS (SELECT * FROM sigs WHERE doc_id % 2 = 1),
        |pairs AS (
        |  SELECT i.doc_id, c.doc_id AS cid,
        |         count(DISTINCT i.frame_pos) AS m
        |  FROM inc i JOIN cor c
        |    ON i.frame_pos = c.frame_pos
        |   AND i.src IS NOT DISTINCT FROM c.src
        |   AND bit_count(xor(i.dhash, c.dhash)) <= 8
        |  GROUP BY 1, 2),
        |dup AS (SELECT DISTINCT doc_id FROM pairs WHERE m >= 2)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM dup)
        |ORDER BY doc_id""".stripMargin,

    // q138: the epoch-3 permutation replayed as one window — the
    // distributed prefix-sum must equal the single-ORDER-BY truth.
    "q138_epoch_shuffle" ->
      """WITH k AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(doc_id || ':3:42'), 1, 15)) AS BIGINT)
        |      AS shuffle_key
        |  FROM documents)
        |SELECT doc_id, shuffle_key,
        |  CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT)
        |    AS epoch_pos
        |FROM k ORDER BY epoch_pos""".stripMargin,

    // q137: q135's replay with the tombstoned corpus ids compacted
    // OUT of the posting state — retraction applies AFTER the
    // build-time df cap (compactState rewrites rows, it does not
    // re-evaluate the cap), so keepfp is computed over the
    // pre-retraction state exactly like the engine.
    "q137_takedown_compact" ->
      """WITH w0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |    CAST(('0x' || substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 15))
        |      AS BIGINT) AS h
        |  FROM w0, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
        |b AS (SELECT doc_id, pos, h,
        |    count(*) OVER (PARTITION BY doc_id) AS n,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING) AS pm1,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS pm2,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS pm3,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 1 FOLLOWING) AS nm1,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS nm2,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS nm3
        |  FROM g),
        |sel AS (SELECT doc_id, h FROM b
        |  WHERE (pos <= n - 3 AND coalesce(nm3 > h, TRUE))
        |     OR (pos - 1 >= 1 AND pos - 1 <= n - 3
        |         AND coalesce(pm1 >= h, TRUE) AND coalesce(nm2 > h, TRUE))
        |     OR (pos - 2 >= 1 AND pos - 2 <= n - 3
        |         AND coalesce(pm2 >= h, TRUE) AND coalesce(nm1 > h, TRUE))
        |     OR (pos - 3 >= 1 AND pos - 3 <= n - 3
        |         AND coalesce(pm3 >= h, TRUE))),
        |state AS (SELECT DISTINCT doc_id AS corpus_id, h FROM sel
        |  WHERE doc_id < 400),
        |keepfp AS (SELECT h FROM state GROUP BY h HAVING count(*) <= 64),
        |st AS (SELECT corpus_id, h FROM state JOIN keepfp USING (h)
        |  WHERE corpus_id % 7 <> 0),
        |bat AS (SELECT DISTINCT doc_id, h FROM sel WHERE doc_id >= 400)
        |SELECT bat.doc_id, st.corpus_id,
        |  CAST(count(*) AS BIGINT) AS shared_fps
        |FROM bat JOIN st USING (h)
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_id, corpus_id""".stripMargin,

    // q134: the q130 pair replay + recursive-CTE closure (q104's
    // idiom) + per-cluster argmax (n_chars desc, doc_id asc).
    "q134_winnow_dedup" ->
      """WITH RECURSIVE w0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |    CAST(('0x' || substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 15))
        |      AS BIGINT) AS h
        |  FROM w0, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
        |b AS (SELECT doc_id, pos, h,
        |    count(*) OVER (PARTITION BY doc_id) AS n,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING) AS pm1,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS pm2,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS pm3,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 1 FOLLOWING) AS nm1,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS nm2,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS nm3
        |  FROM g),
        |sel AS (SELECT doc_id, h FROM b
        |  WHERE (pos <= n - 3 AND coalesce(nm3 > h, TRUE))
        |     OR (pos - 1 >= 1 AND pos - 1 <= n - 3
        |         AND coalesce(pm1 >= h, TRUE) AND coalesce(nm2 > h, TRUE))
        |     OR (pos - 2 >= 1 AND pos - 2 <= n - 3
        |         AND coalesce(pm2 >= h, TRUE) AND coalesce(nm1 > h, TRUE))
        |     OR (pos - 3 >= 1 AND pos - 3 <= n - 3
        |         AND coalesce(pm3 >= h, TRUE))),
        |fp AS (SELECT DISTINCT doc_id, h FROM sel),
        |dfs AS (SELECT h FROM fp GROUP BY h
        |        HAVING count(*) >= 2 AND count(*) <= 64),
        |keyed AS (SELECT doc_id, h FROM fp JOIN dfs USING (h)),
        |p AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b
        |  FROM keyed a JOIN keyed b2 ON a.h = b2.h AND a.doc_id < b2.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |edges AS (SELECT id_a AS a, id_b AS bb FROM p
        |          UNION ALL SELECT id_b, id_a FROM p),
        |reach(id, m) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e2.a, r.m FROM edges e2 JOIN reach r ON r.id = e2.bb),
        |comp AS (SELECT id AS doc_id, min(m) AS cluster FROM reach GROUP BY id),
        |rk AS (SELECT d.doc_id, d.lang, d.source, d.n_chars,
        |    row_number() OVER (PARTITION BY c.cluster
        |      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
        |  FROM documents d JOIN comp c USING (doc_id))
        |SELECT doc_id, lang, source, n_chars FROM rk WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    // Replays FeatureHashEmbed exactly: tokens = lower/trim/\s+-split
    // non-empty (the q85 tokenization), per DISTINCT token two Horner
    // chains over code points (mults 31/131, mod 1000003) via a
    // recursive CTE, bucket = h1 % 64, sign from h2's parity, per-doc
    // bucket sums L2-normalized, dense 64-dim explode. Accumulators
    // are exact ints and the norm/division are single IEEE ops, so the
    // doubles match Spark bit-for-bit before the round.
    "q156_hashed_embedding" ->
      """WITH RECURSIVE tw AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        |twf AS (SELECT doc_id, w FROM tw WHERE w <> ''),
        |dw AS (SELECT DISTINCT w FROM twf),
        |h(w, i, h1, h2) AS (
        |  SELECT w, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM dw
        |  UNION ALL
        |  SELECT w, i + 1,
        |    (h1 * 31 + unicode(substr(w, i + 1, 1))) % 1000003,
        |    (h2 * 131 + unicode(substr(w, i + 1, 1))) % 1000003
        |  FROM h WHERE i < length(w)),
        |hf AS (SELECT w, h1 % 64 AS bucket,
        |         CASE WHEN h2 % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |       FROM h WHERE i = length(w)),
        |contrib AS (SELECT doc_id, bucket, CAST(sum(sgn) AS DOUBLE) AS v
        |            FROM twf JOIN hf USING (w) GROUP BY doc_id, bucket),
        |nrm AS (SELECT doc_id, sqrt(sum(v * v)) AS n FROM contrib GROUP BY doc_id),
        |dims AS (SELECT doc_id, unnest(generate_series(0, 63)) AS dim FROM documents)
        |SELECT d.doc_id, d.dim,
        |  round(coalesce(c.v, 0) /
        |    CASE WHEN n.n IS NULL OR n.n = 0 THEN 1 ELSE n.n END, 6) AS val
        |FROM dims d
        |LEFT JOIN contrib c ON d.doc_id = c.doc_id AND d.dim = c.bucket
        |LEFT JOIN nrm n ON d.doc_id = n.doc_id
        |ORDER BY d.doc_id, d.dim""".stripMargin,

    // q156's embedding build (list-assembled in dim order so
    // list_dot_product folds in the same index order as the engine's
    // DotProduct), then the q20 brute-force top-k shape over it.
    "q157_embed_knn" ->
      """WITH RECURSIVE tw AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        |twf AS (SELECT doc_id, w FROM tw WHERE w <> ''),
        |dw AS (SELECT DISTINCT w FROM twf),
        |h(w, i, h1, h2) AS (
        |  SELECT w, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM dw
        |  UNION ALL
        |  SELECT w, i + 1,
        |    (h1 * 31 + unicode(substr(w, i + 1, 1))) % 1000003,
        |    (h2 * 131 + unicode(substr(w, i + 1, 1))) % 1000003
        |  FROM h WHERE i < length(w)),
        |hf AS (SELECT w, h1 % 64 AS bucket,
        |         CASE WHEN h2 % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |       FROM h WHERE i = length(w)),
        |contrib AS (SELECT doc_id, bucket, CAST(sum(sgn) AS DOUBLE) AS v
        |            FROM twf JOIN hf USING (w) GROUP BY doc_id, bucket),
        |nrm0 AS (SELECT doc_id, sqrt(sum(v * v)) AS n FROM contrib GROUP BY doc_id),
        |dims AS (SELECT doc_id, unnest(generate_series(0, 63)) AS dim FROM documents),
        |vecs AS (
        |  SELECT d.doc_id,
        |    list(coalesce(c.v, 0) /
        |      CASE WHEN n.n IS NULL OR n.n = 0 THEN 1 ELSE n.n END ORDER BY d.dim) AS v
        |  FROM dims d
        |  LEFT JOIN contrib c ON d.doc_id = c.doc_id AND d.dim = c.bucket
        |  LEFT JOIN nrm0 n ON d.doc_id = n.doc_id
        |  GROUP BY d.doc_id),
        |q AS (SELECT v.doc_id AS query_id, v.v AS qv
        |      FROM vecs v JOIN documents dd ON v.doc_id = dd.doc_id
        |      WHERE dd.lang = 'de'),
        |c AS (SELECT doc_id AS corpus_id, v AS cv FROM vecs),
        |s AS (SELECT query_id, corpus_id,
        |        CASE WHEN sqrt(list_dot_product(cv, cv)) = 0 OR sqrt(list_dot_product(qv, qv)) = 0
        |             THEN 0.0
        |             ELSE list_dot_product(cv, qv) /
        |                  (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))) END AS sim
        |      FROM c, q WHERE corpus_id <> query_id),
        |r AS (SELECT query_id, corpus_id, sim, row_number() OVER (
        |        PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rank FROM s)
        |SELECT query_id, corpus_id, round(sim, 6) AS sim, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    // Replays driftReport: tagged per-feature union, count per side,
    // per-feature totals, eps-floored (1e-6) shares, per-bucket PSI
    // contribution, per-feature total via a partitioned window. All
    // arithmetic is exact-int division + one ln/mul per bucket; the
    // round(,6) absorbs libm ulp noise.
    "q158_drift_report" ->
      """WITH fb AS (
        |  SELECT 'lang' AS feature,
        |    coalesce(CAST(lang AS VARCHAR), '<null>') AS bucket,
        |    doc_id < 250 AS is_ref FROM documents
        |  UNION ALL
        |  SELECT 'len_bucket',
        |    coalesce(CAST(CAST(floor(n_chars / 100) AS BIGINT) AS VARCHAR), '<null>'),
        |    doc_id < 250 FROM documents
        |  UNION ALL
        |  SELECT 'source',
        |    coalesce(CAST(source AS VARCHAR), '<null>'),
        |    doc_id < 250 FROM documents),
        |g AS (SELECT feature, bucket,
        |        count(CASE WHEN is_ref THEN 1 END) AS ref_n,
        |        count(CASE WHEN NOT is_ref THEN 1 END) AS cur_n
        |      FROM fb GROUP BY 1, 2),
        |t AS (SELECT feature, sum(ref_n) AS rt, sum(cur_n) AS ct
        |      FROM g GROUP BY 1),
        |s AS (SELECT g.feature, g.bucket, ref_n, cur_n,
        |        CASE WHEN rt = 0 THEN 0.0
        |             ELSE CAST(ref_n AS DOUBLE) / rt END AS rs,
        |        CASE WHEN ct = 0 THEN 0.0
        |             ELSE CAST(cur_n AS DOUBLE) / ct END AS cs
        |      FROM g JOIN t USING (feature)),
        |p AS (SELECT feature, bucket, ref_n, cur_n, rs, cs,
        |        (greatest(cs, 1e-6) - greatest(rs, 1e-6)) *
        |          ln(greatest(cs, 1e-6) / greatest(rs, 1e-6)) AS psi0
        |      FROM s)
        |SELECT feature, bucket, ref_n, cur_n,
        |  round(rs, 6) AS ref_share, round(cs, 6) AS cur_share,
        |  round(psi0, 6) AS psi,
        |  round(sum(psi0) OVER (PARTITION BY feature), 6) AS feature_psi
        |FROM p ORDER BY feature, bucket""".stripMargin,

    // Replays tokenDrift: q85 tokenization on both sides, reference
    // top-64 vocabulary (freq desc, token asc — vocabCoverage's
    // ranking), <other> fold, then the identical PSI pipeline over the
    // token OCCURRENCE stream.
    "q159_token_drift" ->
      """WITH rt AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents WHERE doc_id < 250),
        |rtf AS (SELECT w FROM rt WHERE w <> ''),
        |ct AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents WHERE doc_id >= 250),
        |ctf AS (SELECT w FROM ct WHERE w <> ''),
        |vocab AS (
        |  SELECT w FROM (SELECT w, count(*) AS f FROM rtf GROUP BY 1)
        |  ORDER BY f DESC, w LIMIT 64),
        |fb AS (
        |  SELECT 'token' AS feature,
        |    CASE WHEN v.w IS NULL THEN '<other>' ELSE t.w END AS bucket,
        |    TRUE AS is_ref
        |  FROM rtf t LEFT JOIN vocab v ON t.w = v.w
        |  UNION ALL
        |  SELECT 'token',
        |    CASE WHEN v.w IS NULL THEN '<other>' ELSE t.w END,
        |    FALSE
        |  FROM ctf t LEFT JOIN vocab v ON t.w = v.w),
        |g AS (SELECT feature, bucket,
        |        count(CASE WHEN is_ref THEN 1 END) AS ref_n,
        |        count(CASE WHEN NOT is_ref THEN 1 END) AS cur_n
        |      FROM fb GROUP BY 1, 2),
        |t AS (SELECT feature, sum(ref_n) AS rt, sum(cur_n) AS ct
        |      FROM g GROUP BY 1),
        |s AS (SELECT g.feature, g.bucket, ref_n, cur_n,
        |        CASE WHEN rt = 0 THEN 0.0
        |             ELSE CAST(ref_n AS DOUBLE) / rt END AS rs,
        |        CASE WHEN ct = 0 THEN 0.0
        |             ELSE CAST(cur_n AS DOUBLE) / ct END AS cs
        |      FROM g JOIN t USING (feature)),
        |p AS (SELECT feature, bucket, ref_n, cur_n, rs, cs,
        |        (greatest(cs, 1e-6) - greatest(rs, 1e-6)) *
        |          ln(greatest(cs, 1e-6) / greatest(rs, 1e-6)) AS psi0
        |      FROM s)
        |SELECT feature, bucket, ref_n, cur_n,
        |  round(rs, 6) AS ref_share, round(cs, 6) AS cur_share,
        |  round(psi0, 6) AS psi,
        |  round(sum(psi0) OVER (PARTITION BY feature), 6) AS feature_psi
        |FROM p ORDER BY feature, bucket""".stripMargin,

    // The batch equivalence the incremental cluster state guarantees:
    // exact word-4-gram Jaccard ≥ 0.4 pairs over the WHOLE corpus
    // (q133's tokenization + slicing, round-then-compare), then the
    // q104-style min-label transitive closure — what three id-ranged
    // waves through write/append/append must resolve to exactly.
    "q160_incremental_clusters" ->
      """WITH RECURSIVE w0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS gram
        |  FROM w0, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
        |cnt AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*) AS iv
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (SELECT id_a, id_b FROM inter
        |  JOIN cnt ca ON ca.doc_id = id_a
        |  JOIN cnt cb ON cb.doc_id = id_b
        |  WHERE round(iv * 1.0 / (ca.ng + cb.ng - iv), 6) >= 0.4),
        |edges AS (SELECT id_a AS a, id_b AS b FROM p
        |          UNION ALL SELECT id_b, id_a FROM p),
        |reach(id, m) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.m FROM edges e JOIN reach r ON r.id = e.b)
        |SELECT id AS doc_id, CAST(min(m) AS BIGINT) AS cluster
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // q170: q130's winnowing fingerprint selection (portable md5
    // gram hash, rightmost-min windows) feeds q160's recursive
    // closure — one batch winnow clustering of the union, which the
    // three-wave incremental state must reproduce exactly. The df
    // cap (1000) mirrors the driver's maxDf; minShared = 2.
    "q170_winnow_clusters" ->
      """WITH RECURSIVE w0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |    CAST(('0x' || substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 15))
        |      AS BIGINT) AS h
        |  FROM w0, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
        |b AS (SELECT doc_id, pos, h,
        |    count(*) OVER (PARTITION BY doc_id) AS n,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING) AS pm1,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS pm2,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS pm3,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 1 FOLLOWING) AS nm1,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS nm2,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS nm3
        |  FROM g),
        |sel AS (SELECT doc_id, pos, h FROM b
        |  WHERE (pos <= n - 3 AND coalesce(nm3 > h, TRUE))
        |     OR (pos - 1 >= 1 AND pos - 1 <= n - 3
        |         AND coalesce(pm1 >= h, TRUE) AND coalesce(nm2 > h, TRUE))
        |     OR (pos - 2 >= 1 AND pos - 2 <= n - 3
        |         AND coalesce(pm2 >= h, TRUE) AND coalesce(nm1 > h, TRUE))
        |     OR (pos - 3 >= 1 AND pos - 3 <= n - 3
        |         AND coalesce(pm3 >= h, TRUE))),
        |fp AS (SELECT DISTINCT doc_id, h FROM sel),
        |dfs AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 1000),
        |keyed AS (SELECT doc_id, h FROM fp JOIN dfs USING (h)),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM keyed a JOIN keyed b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |edges AS (SELECT id_a AS a, id_b AS b FROM p
        |          UNION ALL SELECT id_b, id_a FROM p),
        |reach(id, m) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.m FROM edges e JOIN reach r ON r.id = e.b)
        |SELECT id AS doc_id, CAST(min(m) AS BIGINT) AS cluster
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // q160's closure, then keep the best representative per cluster
    // (n_chars desc, doc_id asc) — the cluster-aware curation shape.
    "q161_cluster_curation" ->
      """WITH RECURSIVE w0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS gram
        |  FROM w0, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
        |cnt AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*) AS iv
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (SELECT id_a, id_b FROM inter
        |  JOIN cnt ca ON ca.doc_id = id_a
        |  JOIN cnt cb ON cb.doc_id = id_b
        |  WHERE round(iv * 1.0 / (ca.ng + cb.ng - iv), 6) >= 0.4),
        |edges AS (SELECT id_a AS a, id_b AS b FROM p
        |          UNION ALL SELECT id_b, id_a FROM p),
        |reach(id, m) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.m FROM edges e JOIN reach r ON r.id = e.b),
        |comp AS (SELECT id AS doc_id, CAST(min(m) AS BIGINT) AS cluster
        |  FROM reach GROUP BY id),
        |ranked AS (SELECT d.doc_id, c.cluster, d.n_chars,
        |    row_number() OVER (PARTITION BY c.cluster
        |      ORDER BY d.n_chars DESC, d.doc_id) AS rn
        |  FROM documents d JOIN comp c USING (doc_id))
        |SELECT doc_id, cluster, n_chars FROM ranked
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // The takedown contract: the q160 closure computed over the
    // RETAINED corpus only — retracted vertices gone, bridges broken,
    // canons re-elected to the min retained id.
    "q162_cluster_takedown" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
        |w0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM docs),
        |g AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS gram
        |  FROM w0, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
        |cnt AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*) AS iv
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (SELECT id_a, id_b FROM inter
        |  JOIN cnt ca ON ca.doc_id = id_a
        |  JOIN cnt cb ON cb.doc_id = id_b
        |  WHERE round(iv * 1.0 / (ca.ng + cb.ng - iv), 6) >= 0.4),
        |edges AS (SELECT id_a AS a, id_b AS b FROM p
        |          UNION ALL SELECT id_b, id_a FROM p),
        |reach(id, m) AS (
        |  SELECT doc_id, doc_id FROM docs
        |  UNION
        |  SELECT e.a, r.m FROM edges e JOIN reach r ON r.id = e.b)
        |SELECT id AS doc_id, CAST(min(m) AS BIGINT) AS cluster
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // q164: the patched-takedown state must resolve to the SAME batch
    // closure over the retained corpus as a full blue/green rewrite
    // would — takedown-order and wave-order independent.
    "q164_cluster_takedown_patched" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 97 <> 0 AND doc_id % 89 <> 0),
        |w0 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM docs),
        |g AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS gram
        |  FROM w0, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)),
        |cnt AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*) AS iv
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (SELECT id_a, id_b FROM inter
        |  JOIN cnt ca ON ca.doc_id = id_a
        |  JOIN cnt cb ON cb.doc_id = id_b
        |  WHERE round(iv * 1.0 / (ca.ng + cb.ng - iv), 6) >= 0.4),
        |edges AS (SELECT id_a AS a, id_b AS b FROM p
        |          UNION ALL SELECT id_b, id_a FROM p),
        |reach(id, m) AS (
        |  SELECT doc_id, doc_id FROM docs
        |  UNION
        |  SELECT e.a, r.m FROM edges e JOIN reach r ON r.id = e.b)
        |SELECT id AS doc_id, CAST(min(m) AS BIGINT) AS cluster
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // q172: the block-scored extractor must recover EXACTLY the
    // document text (whitespace-collapsed, entity round-tripped) plus
    // the second content block — every piece of synthesized chrome
    // (head/title/script/style, header/nav/footer, link farm,
    // comment) must vanish. Ground-truth recompute, not a replay.
    "q172_html_main_text" ->
      """SELECT doc_id,
        |  trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g'))
        |    || chr(10) || 'doc ' || doc_id
        |    || ' section 2 content words' AS main_text
        |FROM documents
        |WHERE text IS NOT NULL AND len(string_split(
        |    trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g')),
        |    ' ')) >= 3
        |ORDER BY doc_id""".stripMargin,

    // q173: expected canonical forms stated directly from the
    // construction — each of the five shapes checks a distinct RFC
    // 3986 §6.2 rule (case+default port, fragment, empty path, query
    // sort, tracker strip, kept port, non-absolute passthrough).
    "q173_url_canonical" ->
      """SELECT doc_id,
        |  CASE doc_id % 5
        |    WHEN 0 THEN 'HTTP://Example.COM:80/Path/' || doc_id
        |      || '?utm_source=feed&b=2&a=1#frag'
        |    WHEN 1 THEN 'https://CDN.Example.com:443/assets/' || doc_id
        |    WHEN 2 THEN 'http://example.com?z=' || doc_id
        |      || '&y=2&utm_campaign=x'
        |    WHEN 3 THEN 'http://example.com:8080/keep/' || doc_id
        |      || '?fbclid=abc'
        |    ELSE '/relative/' || doc_id END AS url_raw,
        |  CASE doc_id % 5
        |    WHEN 0 THEN 'http://example.com/Path/' || doc_id || '?a=1&b=2'
        |    WHEN 1 THEN 'https://cdn.example.com/assets/' || doc_id
        |    WHEN 2 THEN 'http://example.com/?y=2&z=' || doc_id
        |    WHEN 3 THEN 'http://example.com:8080/keep/' || doc_id
        |    ELSE '/relative/' || doc_id END AS url_canonical
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // q174: expected (sitemap_id, loc, lastmod) recomputed from
    // doc_ids — the Spark side must survive its own assemble→parse
    // round-trip (entity-escaped ampersands, optional lastmod).
    "q174_sitemap_parse" ->
      """SELECT CAST(doc_id // 10 AS BIGINT) AS sitemap_id,
        |  'http://corpus.example/doc/' || doc_id || '?lang=nah&x=1' AS loc,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN '2026-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |    ELSE NULL END AS lastmod
        |FROM documents
        |ORDER BY loc""".stripMargin,

    // q175: percent-normalization rules checked against ground truth
    // (unreserved decode, reserved hex uppercase, malformed pass
    // through) — DuckDB cannot replay per-match hex decoding, so the
    // expected strings are stated from the construction.
    "q175_url_percent_normalize" ->
      """SELECT doc_id,
        |  CASE doc_id % 3
        |    WHEN 0 THEN 'http://EX.com/p%61th/' || doc_id || '?x=%7e%41'
        |    WHEN 1 THEN 'https://ex.com/%2Fkeep%2f' || doc_id || '?y=%3a%3A'
        |    ELSE 'http://ex.com/bad%G1/' || doc_id || '%' END AS url_raw,
        |  CASE doc_id % 3
        |    WHEN 0 THEN 'http://ex.com/path/' || doc_id || '?x=~A'
        |    WHEN 1 THEN 'https://ex.com/%2Fkeep%2F' || doc_id || '?y=%3A%3A'
        |    ELSE 'http://ex.com/bad%G1/' || doc_id || '%' END AS url_canonical
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // q176: ground-truth recompute — every response body must come
    // back byte-exact through pack→(gzip-member)→walk→HTTP-split→
    // (dechunk); status pinned by the fixture writer.
    "q176_warc_scan" ->
      """SELECT doc_id, text AS text_out,
        |  200 AS http_status, TRUE AS warc_ok
        |FROM documents
        |WHERE text IS NOT NULL AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,
  )
}
