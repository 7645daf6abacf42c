package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkes & Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting",
  * SIGMOD 2003) — the bounded-density overlap detector the reference's
  * whole-document hash (`generar_hash_contenido`,
  * /root/reference/src/pipeline/transformations.py:178-196) cannot
  * express: equal SHA-256 finds only verbatim copies, while winnowing
  * GUARANTEES that any two documents sharing a word run of at least
  * `k + w − 1` words share a fingerprint, at a fingerprint density of
  * ~2/(w+1) per gram instead of one hash per gram.
  *
  * Selection rule (the paper's): slide a window of `w` consecutive
  * k-gram hashes; in each window keep the RIGHTMOST minimal hash; a
  * (pos, hash) selected by any window is recorded once. This is
  * reformulated here as a per-position predicate over frame-bounded
  * window minima — position p is selected iff SOME valid window start
  * p−d (d < w) has all hashes before p in the window ≥ h(p) and all
  * hashes after p strictly > h(p) — so the whole operator is ONE
  * hash-partitioned sort per document, no self-join over windows.
  * WinnowSpec fuzz-checks the predicate against a literal
  * rightmost-min reference implementation, ties included.
  *
  * Gram hashes are the PORTABLE 60-bit md5 hex prefix
  * ([[Winnow.gramHash]]), not xxhash64: the DuckDB oracle replays the
  * selection bit-for-bit (q129/q130), which an engine-local hash would
  * make impossible. Inside one engine the choice is free — any
  * deterministic hash yields a valid winnowing — so portability costs
  * nothing but the md5 call.
  *
  * At 100 TB: the gram explode and hash are narrow map work in the
  * scan stage; the only exchange is the hash partition by document id
  * for the window sort (documents are independent, so skew equals the
  * longest single document, not a key distribution); fingerprints are
  * (id, pos, long) rows at ~2/(w+1) the gram count. [[overlapPairs]]
  * joins postings on the LONG fingerprint with a document-frequency
  * cap — the same stop-key guardrail as the banded MinHash bucket join
  * — so a boilerplate fingerprint shared by millions of pages can
  * never form a quadratic bucket; capped mass is reported via
  * `observe` rather than silently dropped.
  */
object Winnow {

  /** Suffix source for per-query-unique observation names. */
  private val obsCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Portable 60-bit gram hash: the first 15 hex digits of md5,
    * parsed base-16 — bit-identical in DuckDB as
    * `CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)`. Non-negative,
    * so `Long` comparisons agree across engines. */
  def gramHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The fingerprint SET of a text column as one map-side codegen'd
    * kernel ([[graft.functions.WinnowFps]]): distinct selected
    * hashes, ascending, positions dropped. Identical selection to
    * [[fingerprints]] (WinnowSpec asserts set equality) with ZERO
    * exchanges — the form streaming gates and batch probes want when
    * provenance inside the document does not matter. */
  def fingerprintSet(textCol: Column, k: Int = 4, w: Int = 4): Column =
    graft.functions.text.expr2col(graft.functions.WinnowFps(
      graft.functions.text.col2expr(textCol), k, w))

  /** Winnowing fingerprints of `textCol`: one row per selected
    * position — (idCol, pos, fp) with pos the 1-based k-gram start.
    * Documents with fewer than `k + w − 1` words yield no
    * fingerprints (no complete window exists), mirroring the paper's
    * guarantee threshold. */
  def fingerprints(df: DataFrame, idCol: String, textCol: Column,
      k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "gram size and window must be >= 1")
    val grams = Dedup.spreadWide(df.select(col(idCol), textCol.as("__t")))
      .select(col(idCol),
        posexplode(Dedup.wordNGrams(col("__t"), k)).as(Seq("__p0", "__g")))
      .select(col(idCol), (col("__p0") + 1).as("pos"),
        gramHash(col("__g")).as("h"))

    val part = Window.partitionBy(idCol)
    val win = part.orderBy("pos")
    // frame-bounded minima once per offset; the OR-of-d predicate
    // reads them (same partitioning + sort → one exchange, one sort)
    val withMins = grams.select(
      col(idCol) +: col("pos") +: col("h") +:
        count(lit(1)).over(part).as("__n") +:
        ((1 until w).map(d =>
          min("h").over(win.rowsBetween(-d, -1)).as(s"__pm$d")) ++
         (1 until w).map(m =>
          min("h").over(win.rowsBetween(1, m)).as(s"__nm$m"))): _*)
    val selected = (0 until w).map { d =>
      val m = w - 1 - d
      val validStart = (col("pos") - d >= 1) &&
        (col("pos") - d <= col("__n") - w + 1)
      val leftOk =
        if (d == 0) lit(true)
        else coalesce(col(s"__pm$d") >= col("h"), lit(true))
      val rightOk =
        if (m == 0) lit(true)
        else coalesce(col(s"__nm$m") > col("h"), lit(true))
      validStart && leftOk && rightOk
    }.reduce(_ || _)
    withMins.filter(selected).select(col(idCol), col("pos"), col("h").as("fp"))
  }

  /** Document pairs sharing at least `minShared` distinct winnowing
    * fingerprints, with the shared count — the candidate set for
    * plagiarism / near-verbatim overlap review. `maxDf` drops
    * fingerprints present in more than that many documents before the
    * posting self-join (boilerplate guardrail); the count of dropped
    * fingerprints is observable as `winnow_stop_fps` on the returned
    * plan. */
  def overlapPairs(df: DataFrame, idCol: String, textCol: Column,
      k: Int = 4, w: Int = 4, minShared: Long = 2, maxDf: Long = 64):
      DataFrame = {
    val posting = fingerprints(df, idCol, textCol, k, w)
      .select(col(idCol).as("__id"), col("fp")).distinct()
    // fp document frequency: shared (df >= 2) and bounded (df <= maxDf).
    // Observation names must be unique per query (two overlapPairs in
    // one action would otherwise fail analysis), hence the counter.
    val dfs = posting.groupBy("fp")
      .agg(count(lit(1)).as("__df"))
      .observe(s"winnow_stop_fps.${Winnow.obsCounter.incrementAndGet()}",
        sum(when(col("__df") > maxDf, 1L).otherwise(0L)).as("stop_fps"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
    // the count join's self form: the fp exchange is planned once and
    // reused (ReusedExchange), not shuffled twice
    Dedup.countedPairs(posting.join(dfs.select("fp"), Seq("fp")), None, Seq("fp"),
        Dedup.PairTest.Shared(minShared))
      .select(col("id_a"), col("id_b"), col("shared").as("shared_fps"))
  }
}
