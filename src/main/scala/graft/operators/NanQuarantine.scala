package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Observability for the NaN-quarantine envelope of the exact cosine
  * pair core behind [[Similarity.similarPairsApprox]] and
  * [[Similarity.vecPairsByCosine]] (the cosine join rewrite).
  *
  * The core keeps its exact-output guarantee on NaN-poisoned
  * embeddings by routing every dirty vector AROUND the cell-pruned
  * geometry and joining it against the full opposite side — a
  * documented |dirty| × n cost envelope that is empty on sane corpora
  * but silently degenerates toward O(n²) when a corpus arrives with
  * pervasive NaN embeddings. The core therefore `observe`s each input
  * side with a `graft.nan_quarantine.*` metric pair
  * (`n_vecs`, `n_dirty`; null vectors, which never pair, are not
  * counted); the [[NanQuarantine.Listener]] (installed by
  * [[graft.GraftSession]]) reads the metrics after every successful
  * execution and WARNs when the dirty fraction crosses
  * [[NanQuarantine.warnFraction]] — making the envelope visible
  * in logs at exactly the moment it starts to cost, with zero extra
  * jobs (observed metrics ride the existing aggregation buffers).
  */
object NanQuarantine {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.NanQuarantine")
  private val counter = new AtomicLong()

  /** Observation-name prefix the listener pattern-matches on. */
  val prefix = "graft.nan_quarantine."

  /** Dirty fraction at which the listener warns. */
  val warnFraction = 0.01

  /** Unique observation name (Spark requires per-query uniqueness;
    * the same operator can appear several times in one plan). */
  def observationName(op: String): String =
    s"$prefix$op.${counter.incrementAndGet()}"

  /** The warn message for a metric row, when it crosses the bound —
    * pure, so the threshold logic is spec-testable without a session. */
  def checkRow(name: String, nVecs: Long, nDirty: Long,
      warnFrac: Double = warnFraction): Option[String] =
    if (nDirty > 0 && nVecs > 0 && nDirty.toDouble / nVecs >= warnFrac)
      Some(f"$name: $nDirty of $nVecs vectors (${100.0 * nDirty / nVecs}%.2f%%) " +
        "carry NaN elements — each bypasses cell pruning and joins the full " +
        "opposite side (|dirty|*n quarantine envelope); scrub or impute " +
        "embeddings upstream")
    else None

  final class Listener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith(prefix))
          checkRow(name, row.getAs[Long]("n_vecs"), row.getAs[Long]("n_dirty"))
            .foreach(log.warn(_))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Register the listener once per session (guarded by a session
    * conf flag — the listener manager has no inspection API). */
  def install(spark: SparkSession): Unit =
    if (!spark.conf.getOption("graft.nanQuarantine.listener").contains("installed")) {
      spark.listenerManager.register(new Listener)
      spark.conf.set("graft.nanQuarantine.listener", "installed")
    }
}
