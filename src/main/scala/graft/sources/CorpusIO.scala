package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus sources/sinks with schema-on-read legacy-key coalescing
  * (SURVEY §2.1 S3-S7, §2.2 P1-P3).
  *
  * The reference accepts ≥6 legacy key variants and coalesces them
  * into the fixed 6-column record schema
  * (/root/reference/src/models/schemas.py:228-287,
  * scripts/unify_datasets.py:25-66), plus a nested whole-file JSON
  * envelope (`items[].original.{es|sp,nah,myn}`, Py-Elotl format,
  * src/pipeline/unify.py:229-245). Here both become declarative reads:
  * an explicit permissive schema (so Catalyst prunes / pushes into the
  * JSON scan and malformed lines land in `_corrupt_record` instead of
  * killing the job) followed by a `coalesce` projection.
  */
object CorpusIO {

  /** Nested record metadata (schemas.py:25-73): identity, provenance
    * and validation state that ride along with every record. */
  val metadataSchema: StructType = StructType(Seq(
    StructField("record_id", StringType),
    StructField("created_at", TimestampType),
    StructField("dialect", StringType),
    StructField("quality_score", DoubleType),
    StructField("is_validated", BooleanType)))

  /** The canonical fixed output schema (FIXTURES.md §1 + the category
    * and nested metadata fields of schemas.py:25-73,128-131). */
  val recordSchema: StructType = StructType(Seq(
    StructField("es", StringType), StructField("nah", StringType),
    StructField("myn", StringType), StructField("source", StringType),
    StructField("layer", StringType), StructField("origin_file", StringType),
    StructField("category", StringType),
    StructField("metadata", metadataSchema)))

  /** Permissive input schema covering every legacy key variant. */
  val legacyInputSchema: StructType = StructType(Seq(
    StructField("es", StringType), StructField("nah", StringType),
    StructField("myn", StringType),
    StructField("es_translation", StringType),
    StructField("original_es", StringType),
    StructField("prompt", StringType),            // DPO
    StructField("nah_translation", StringType),
    StructField("chosen", StringType),            // DPO
    StructField("original_audio_text", StringType),
    StructField("detected_language", StringType),
    StructField("myn_translation", StringType),
    StructField("source_file", StringType),
    StructField("source", StringType),
    StructField("layer", StringType),
    StructField("origin_file", StringType),
    StructField("category", StringType),
    StructField("metadata", metadataSchema)))

  private def emptyToNull(c: Column): Column = {
    val t = trim(c)
    when(t.isNull || t === "", lit(null).cast(StringType)).otherwise(t)
  }

  /** P1 — legacy-key coalescing projection to the fixed schema. */
  def coalesceLegacyKeys(df: DataFrame, defaultSource: String = "unknown"): DataFrame = {
    def has(n: String) = df.columns.contains(n)
    def c(n: String): Column = if (has(n)) col(n) else lit(null).cast(StringType)
    val audioNah = when(c("detected_language") === "nah", c("original_audio_text"))
    val audioMyn = when(c("detected_language") === "myn", c("original_audio_text"))
    df.select(
      emptyToNull(coalesce(c("es"), c("es_translation"), c("original_es"), c("prompt"))).as("es"),
      emptyToNull(coalesce(c("nah"), c("nah_translation"), c("chosen"), audioNah)).as("nah"),
      emptyToNull(coalesce(c("myn"), c("myn_translation"), audioMyn)).as("myn"),
      coalesce(emptyToNull(c("source")), lit(defaultSource)).as("source"),
      coalesce(emptyToNull(c("layer")), lit("bronze")).as("layer"),
      coalesce(emptyToNull(c("origin_file")), emptyToNull(c("source_file")),
        regexp_extract(input_file_name(), "([^/]+)$", 1)).as("origin_file"),
      emptyToNull(c("category")).as("category"),
      (if (has("metadata")) col("metadata").cast(metadataSchema)
       else lit(null).cast(metadataSchema)).as("metadata"))
  }

  /** P2 — translation-pair validity: es present AND (nah OR myn). */
  def validityFilter(df: DataFrame): DataFrame =
    df.filter(col("es").isNotNull && (col("nah").isNotNull || col("myn").isNotNull))

  /** S3/S7 — JSONL scan with error tolerance + layer tagging. Accepts
    * globs; malformed lines are dropped at parse time (DROPMALFORMED —
    * a post-hoc `_corrupt_record` filter breaks when column pruning
    * leaves only the corrupt column referenced, e.g. under `count()`:
    * Spark's QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction). */
  def readJsonl(spark: SparkSession, paths: Seq[String], layer: String): DataFrame = {
    val raw = spark.read
      .schema(legacyInputSchema)
      .option("mode", "DROPMALFORMED")
      .json(paths: _*)
    coalesceLegacyKeys(raw)
      .withColumn("layer", lit(layer))
  }

  /** S3 accounting — the diagnostic pass that makes malformed lines
    * VISIBLE instead of silently dropped: per source file, total
    * non-blank lines, parsed/malformed counts, and up to
    * `sampleErrors` malformed-line excerpts (the reference counts and
    * reports the first 5 parse errors per file,
    * /root/reference/src/pipeline/unify.py:174-213).
    *
    * Implemented as `from_json` over a text scan (not the JSON
    * datasource) — the corrupt-record column is then an ordinary
    * expression, sidestepping Spark's corrupt-record-only column
    * pruning restriction that makes in-band accounting impossible on
    * the main read. One extra scan of the JSONL, fully distributed;
    * samples are deterministic (lexicographically first per file)
    * because "first in file order" is not a distributable notion. */
  def jsonlFileStats(spark: SparkSession, paths: Seq[String],
      sampleErrors: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val opts = Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")
    val parseSchema = legacyInputSchema.add(StructField("_corrupt_record", StringType))
    val lines = spark.read.text(paths: _*)
      .filter(length(trim(col("value"))) > 0)
      .select(
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("file"),
        col("value"),
        from_json(col("value"), parseSchema, opts)
          .getField("_corrupt_record").as("__corrupt"))
    val counts = lines.groupBy(col("file")).agg(
      count(lit(1)).as("lines"),
      count(col("__corrupt")).as("malformed"))
    // bounded sample: top-N per file through a window, never an
    // unbounded collect_list buffer
    val w = Window.partitionBy(col("file")).orderBy(col("value"))
    val samples = lines.filter(col("__corrupt").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= sampleErrors)
      .groupBy(col("file"))
      .agg(sort_array(collect_list(substring(col("value"), 1, 120))).as("error_samples"))
    counts.join(samples, Seq("file"), "left")
      .select(col("file"), col("lines"),
        (col("lines") - col("malformed")).as("parsed"),
        col("malformed"),
        coalesce(col("error_samples"), array().cast("array<string>")).as("error_samples"))
  }

  /** S4 — whole-file JSON dump with the Py-Elotl nested envelope:
    * unwrap `items[]`, coalesce `original.{es|sp}`. */
  def readJsonDump(spark: SparkSession, path: String, layer: String): DataFrame = {
    val dumpSchema = StructType(Seq(
      StructField("items", ArrayType(StructType(Seq(
        StructField("original", StructType(Seq(
          StructField("es", StringType), StructField("sp", StringType),
          StructField("nah", StringType), StructField("myn", StringType))))))))))
    spark.read.schema(dumpSchema).option("multiLine", true).json(path)
      .select(explode(col("items")).as("item"))
      .select(
        emptyToNull(coalesce(col("item.original.es"), col("item.original.sp"))).as("es"),
        emptyToNull(col("item.original.nah")).as("nah"),
        emptyToNull(col("item.original.myn")).as("myn"),
        lit("unknown").as("source"),
        lit(layer).as("layer"),
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("origin_file"))
  }

  /** S5 — JSONL sink: null fields omitted, UTF-8 preserved (Spark
    * json sink is UTF-8 and `ignoreNullFields` drops nulls, matching
    * the reference's `ensure_ascii=False` + None-stripping writes). */
  def writeJsonl(df: DataFrame, path: String, partitionByCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").option("ignoreNullFields", "true")
    (if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*) else w).json(path)
  }

  /** S2 — Parquet sink (gold layers partitioned by split for dynamic
    * partition pruning downstream). */
  def writeParquet(df: DataFrame, path: String, partitionByCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*) else w).parquet(path)
  }

  /** S6 — CSV source-registry scan/sink. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** S6 registry workflow — the reference's discovery loop
    * (/root/reference/pipeline/discovery.py:10-35): sources pending
    * ingestion, then a status update rewriting the registry. */
  def pendingSources(registry: DataFrame): DataFrame =
    registry.filter(col("ingestion_status") === "Pending")

  /** Update one source's `ingestion_status` and rewrite the registry
    * in place. The updated frame is materialized (localCheckpoint)
    * before the overwrite — Spark reads lazily, so writing over the
    * file still being scanned would corrupt it. The registry is a
    * small control table; the checkpoint is rows × a few strings. */
  def updateSourceStatus(spark: SparkSession, path: String,
      sourceId: String, status: String): Unit = {
    val updated = readCsv(spark, path)
      .withColumn("ingestion_status",
        when(col("source_id") === sourceId, lit(status))
          .otherwise(col("ingestion_status")))
      .localCheckpoint(true)
    writeCsv(updated, path)
  }

  /** S11 — plain-text corpus scan: one line per verse/sentence, short
    * lines dropped (driver_bible.py:24-47 semantics). */
  def readTextCorpus(spark: SparkSession, path: String, minLen: Int = 10): DataFrame =
    spark.read.text(path)
      .filter(length(trim(col("value"))) > minLen)
      .select(trim(col("value")).as("text"),
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("origin_file"))

  /** S11 — XML corpus scan: extract `<verse>` bodies and strip inner
    * tags (driver_bible.py:49-66 semantics), whole-file read + one
    * generator explode — no driver-side parsing. */
  def readXmlVerses(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", true).text(path)
      .select(explode(
        regexp_extract_all(col("value"), lit("(?s)<verse[^>]*>(.*?)</verse>"), lit(1))).as("raw"),
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("origin_file"))
      .select(trim(regexp_replace(col("raw"), "<[^>]+>", "")).as("text"), col("origin_file"))
      .filter(length(col("text")) > 0)

  /** S15 — bulk JSONL→Parquet converter. */
  def convertJsonlToParquet(spark: SparkSession, inGlob: String, outDir: String): Unit =
    spark.read.json(inGlob).write.mode("overwrite").parquet(outDir)

  /** The engine's one catalog-table writer. Every persisted state
    * table (digest, MinHash, Hamming, cluster, takedown and index
    * state — [[graft.operators.Incremental]]) lands through here, so
    * the layout that lets a recurring probe read state without
    * re-shuffling it is decided in one place:
    *  - bucket keys = sort keys: `bucketBy(numBuckets, bucketCols)`
    *    and `sortBy(bucketCols)`, so a join on those keys reads the
    *    table bucket-aligned and pre-sorted — a sort-merge join with
    *    no Exchange on this side (asserted in BucketingSpec);
    *  - one file per bucket: `repartition(numBuckets, bucketCols)`
    *    first, so each writer task owns whole buckets instead of
    *    leaving tasks × buckets fragments;
    *  - parquet always, never the session's `spark.sql.sources.default`
    *    — an overwrite and a later append must agree on the format;
    *  - `path` only when an overwrite names one (an external table in
    *    its own blue/green directory); an append lands wherever the
    *    catalog already points.
    * Empty `bucketCols` writes an unbucketed table (the one-row-per-
    * batch stats logs, the empty cluster alias) under the same format
    * and path rules. (`bucketBy`
    * requires the table catalog, hence `saveAsTable`.) */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, mode: SaveMode = SaveMode.Overwrite,
      path: Option[String] = None): Unit = {
    val w =
      if (bucketCols.isEmpty) df.write
      else df.repartition(numBuckets, bucketCols.map(col): _*).write
        .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
    path.filter(_ => mode == SaveMode.Overwrite).fold(w)(w.option("path", _))
      .mode(mode).format("parquet").saveAsTable(table)
  }

  /** Range-partitioned SORTED parquet write — the layout that makes
    * selective range scans cheap at 100 TB. `repartitionByRange` puts
    * disjoint key ranges in separate files and `sortWithinPartitions`
    * orders rows inside each, so every file's (and every row group's)
    * min/max stats for the sort key are TIGHT: a reader's range filter
    * prunes whole files via footer stats before any row is
    * decompressed (asserted file-by-file in LayoutSpec). Prefer this
    * for fact tables scanned by time/id ranges; prefer
    * [[writeBucketed]] for join co-location. */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String],
      numFiles: Int): Unit =
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)

  /** Small-file compaction — the table-maintenance pass a 100 TB lake
    * needs between ingestion waves: streaming/incremental writers leave
    * thousands of KB-scale files whose per-file open/footer cost
    * dominates scans (and whose row groups are too small for column
    * statistics to prune anything). Re-lay `inPath` out as
    * ⌈actual input bytes / targetBytes⌉ files — the size estimate is
    * the REAL on-disk byte count from the filesystem, not a sampled
    * guess, and in→out is parquet→parquet so compression carries over.
    * With `sortCols` the rewrite also range-clusters + sorts
    * ([[writeSorted]]'s layout) so compaction doubles as a data-
    * clustering pass; without, it is one plain round-robin shuffle.
    * Returns the file count written. Content is preserved exactly —
    * q109 gates that against the DuckDB oracle. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = 128L << 20, sortCols: Seq[String] = Nil): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val p = new org.apache.hadoop.fs.Path(inPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val totalBytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(inPath)
    val laid =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(nFiles)
    laid.write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** Per-file integrity manifest of a released dataset directory —
    * the artifact a 100 TB release ships next to its shards so any
    * consumer can verify what they downloaded: one row per parquet
    * file with its byte size and SHA-256. Distributed end to end:
    * the `binaryFile` LISTING (content pruned — no byte read, no
    * 2 GiB `maxLength` cap) fans the paths out, and each task streams
    * its file through a chunked `MessageDigest` — a 30 GiB shard
    * digests in constant memory. Recursive so Hive-partitioned
    * layouts manifest whole. */
  def fileManifest(spark: SparkSession, dir: String,
      glob: String = "*.parquet"): DataFrame = {
    import spark.implicits._
    // executor-side FileSystem from the driver's effective Hadoop
    // conf (shipped as plain entries — Configuration isn't
    // serializable)
    val confEntries = {
      val c = spark.sessionState.newHadoopConf()
      val it = c.iterator()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob).option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), col("length").as("size_bytes"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        val buf = new Array[Byte](1 << 20)
        it.map { case (path, len) =>
          // Path(String), not Path(URI): binaryFile's path column is
          // the already-decoded FileStatus string — URI would
          // double-decode %-escapes (and reject raw spaces) and open
          // a file that doesn't exist
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = p.getFileSystem(conf)
          val md = java.security.MessageDigest.getInstance("SHA-256")
          val in = fs.open(p)
          try {
            var n = in.read(buf)
            while (n >= 0) {
              if (n > 0) md.update(buf, 0, n)
              n = in.read(buf)
            }
          } finally in.close()
          (path, len, md.digest().map("%02x".format(_)).mkString)
        }
      }
      .toDF("path", "size_bytes", "sha256")
  }

  /** Release rollup per Hive partition: `(partition value, n_files,
    * size_bytes, n_rows)` — the physical-layout half comes from the
    * file listing (no data read beyond footers), the logical half
    * from one grouped count via partition discovery. The listing's
    * raw `<partitionCol>=...` path segment is DECODED to the logical
    * value (Hive %-escaping reversed; the `__HIVE_DEFAULT_PARTITION__`
    * sentinel → NULL) and the join is null-safe, so escaped values
    * (`a:b` → dir `a%3Ab`) and NULL partitions can never silently
    * drop out of an integrity audit. Left outer from the listing, so
    * a partition whose files hold zero rows still appears (n_rows =
    * 0). Pair with [[fileManifest]] for per-file checksums; q127
    * gates this rollup against the DuckDB oracle over the same
    * written release. */
  def releaseManifest(spark: SparkSession, dir: String,
      partitionCol: String): DataFrame = {
    val seg = regexp_extract(col("path"),
      java.util.regex.Pattern.quote(partitionCol) + "=([^/]+)", 1)
    // Hive escapes with %xx only — protect literal '+' from
    // url_decode's application/x-www-form-urlencoded '+'→space rule
    val decoded = when(seg === "__HIVE_DEFAULT_PARTITION__",
        lit(null).cast("string"))
      .otherwise(url_decode(regexp_replace(seg, "\\+", "%2B")))
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.parquet").option("recursiveFileLookup", "true")
      .load(dir)
      .select(decoded.as("__pv"), col("length"))
      .groupBy("__pv")
      .agg(count(lit(1)).as("n_files"), sum("length").as("size_bytes"))
    // partition values must stay STRINGS: type inference would read a
    // "01" directory back as int 1, the cast-back gives "1", and the
    // join misses — an audit claiming a populated partition is empty.
    // Inference runs eagerly at read time, so save/restore is safe.
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prevInfer = spark.conf.get(inferKey)
    val parquet =
      try { spark.conf.set(inferKey, "false"); spark.read.parquet(dir) }
      finally spark.conf.set(inferKey, prevInfer)
    val rows = parquet
      .groupBy(col(partitionCol).cast("string").as("__pr"))
      .agg(count(lit(1)).as("n_rows"))
    files.join(rows, col("__pv") <=> col("__pr"), "left")
      .select(col("__pv").as(partitionCol), col("n_files"),
        col("size_bytes"), coalesce(col("n_rows"), lit(0L)).as("n_rows"))
  }

  /** Keyed parquet upsert — the MERGE a plain-parquet lake needs
    * between ingestion waves: batch rows REPLACE existing rows with
    * the same key, everything else carries over, and the result lands
    * atomically-ish via a temp-dir write + swap (parquet has no
    * transaction log; the swap window is the documented caveat — a
    * table format takes over where that matters). Returns the merged
    * row count.
    *
    * Scale shape: ONE left_anti join (existing vs batch keys — with
    * the batch side broadcastable this is map-side) + union + write.
    * The q114 oracle replays the merge semantics (batch wins per key)
    * against the written table. */
  def upsertParquet(spark: SparkSession, path: String, batch: DataFrame,
      keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val merged =
      if (fs.exists(p)) {
        val existing = spark.read.parquet(path)
        existing.join(batch.select(keyCols.map(col): _*), keyCols, "left_anti")
          .unionByName(batch.select(existing.columns.map(col).toIndexedSeq: _*))
      } else batch
    val tmp = new org.apache.hadoop.fs.Path(path + ".__upsert_tmp")
    fs.delete(tmp, true)
    // localCheckpoint BEFORE touching the directory: the merged plan
    // reads the files the swap is about to delete
    val materialized = merged.localCheckpoint(true)
    materialized.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(p, true)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"upsert swap failed: $tmp -> $p")
    spark.read.parquet(path).count()
  }

  /** S12 — dataset-adapter mapper in the UniMorph shape
    * (driver_hf_unimorph.py:9-41): morphology rows
    * {lemma, form, tags} → canonical records where the inflected form
    * is the indigenous-language text and the lemma annotation rides in
    * `category`. Other HF adapters are the same pattern with different
    * source columns (select/coalesce into the fixed schema). */
  def adaptUniMorph(df: DataFrame, targetLang: String = "nah",
      source: String = "huggingface"): DataFrame = {
    val textCol = emptyToNull(col("form"))
    df.select(
      lit(null).cast(StringType).as("es"),
      (if (targetLang == "nah") textCol else lit(null).cast(StringType)).as("nah"),
      (if (targetLang == "myn") textCol else lit(null).cast(StringType)).as("myn"),
      lit(source).as("source"),
      lit("bronze").as("layer"),
      concat_ws(":", emptyToNull(col("lemma")), emptyToNull(col("tags"))).as("origin_file"))
  }

  /** Column accessor tolerant of config-dependent schemas: a missing
    * top-level column or struct field reads as null — the Spark
    * analog of the reference adapters' `.get(k, '')` fallback chains. */
  private def optCol(df: DataFrame, name: String): Column =
    name.split('.') match {
      case Array(top) =>
        if (df.columns.contains(top)) col(top) else lit(null).cast(StringType)
      case Array(top, nested) =>
        df.schema.find(_.name == top) match {
          case Some(StructField(_, st: StructType, _, _)) if st.fieldNames.contains(nested) =>
            col(s"$top.$nested")
          case _ => lit(null).cast(StringType)
        }
    }

  /** S12 — Tatoeba MT pair extraction
    * (driver_hf_tatoeba.py:9-73): the `translation` struct's language
    * keys differ per dataset config (nah/nah_Latn, es/spa/spa_Latn);
    * the coalesce chain mirrors the reference's config fallback loop.
    * Rows without indigenous text are dropped (the reference only
    * appends when nah_text is truthy). */
  def adaptTatoeba(df: DataFrame, source: String = "tatoeba"): DataFrame = {
    val nah = emptyToNull(coalesce(
      optCol(df, "translation.nah"), optCol(df, "translation.nah_Latn")))
    val es = emptyToNull(coalesce(
      optCol(df, "translation.es"), optCol(df, "translation.spa"),
      optCol(df, "translation.spa_Latn")))
    df.select(
      es.as("es"), nah.as("nah"), lit(null).cast(StringType).as("myn"),
      lit(source).as("source"), lit("bronze").as("layer"),
      concat_ws(":", lit(source), emptyToNull(optCol(df, "split"))).as("origin_file"))
      .filter(col("nah").isNotNull)
  }

  /** S12 — FLORES sentence extraction (driver_hf_flores.py:9-62):
    * `sentence` is the indigenous text, `sentence_es` the optional
    * Spanish side; provenance keeps split and sentence id. */
  def adaptFlores(df: DataFrame, source: String = "flores"): DataFrame =
    df.select(
      emptyToNull(optCol(df, "sentence_es")).as("es"),
      emptyToNull(optCol(df, "sentence")).as("nah"),
      lit(null).cast(StringType).as("myn"),
      lit(source).as("source"), lit("bronze").as("layer"),
      concat_ws(":", lit(source), emptyToNull(optCol(df, "split")),
        emptyToNull(optCol(df, "id").cast(StringType))).as("origin_file"))
      .filter(col("nah").isNotNull)

  /** S12 — AmericasNLP extraction (driver_hf_americasnlp.py:9-70):
    * indigenous text from `text` falling back to the dataset's own
    * `source` column, Spanish from `target`, task label in category. */
  def adaptAmericasNlp(df: DataFrame, datasetSource: String = "americasnlp"): DataFrame =
    df.select(
      emptyToNull(optCol(df, "target")).as("es"),
      emptyToNull(coalesce(optCol(df, "text"), optCol(df, "source"))).as("nah"),
      lit(null).cast(StringType).as("myn"),
      lit(datasetSource).as("source"), lit("bronze").as("layer"),
      concat_ws(":", lit(datasetSource), emptyToNull(optCol(df, "split"))).as("origin_file"),
      coalesce(emptyToNull(optCol(df, "task")), lit("translation")).as("category"))
      .filter(col("nah").isNotNull)
}
