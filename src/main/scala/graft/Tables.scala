package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Each table is a single parquet file under the scale-factor
  * directory. Reads go through `spark.read.parquet` so Catalyst gets
  * full predicate pushdown / column pruning on every downstream query.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) (read as a
    * raw long under `spark.sql.legacy.parquet.nanosAsLong=true`) and as
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ
    * unless the session disables `inferTimestampNTZ` — [[GraftSession]]
    * does). Normalize every variant to a proper TimestampType column so
    * watermarks/window() downstream always analyze. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // The NTZ wall-clock is UTC by the writer's contract. A bare
        // cast would re-interpret it in the session timezone (only UTC
        // under GraftSession, not necessarily on foreign sessions).
        // Rebuild the instant ARITHMETICALLY from the UTC fields via
        // make_timestamp(..., 'UTC'): no session-tz local wall clock is
        // ever materialized, so a DST fall-back overlap in the session
        // zone (where a convert-then-cast round-trip is ambiguous and
        // can shift an hour) cannot touch it. extract(SECOND) is
        // DECIMAL(8,6) — the micros fraction survives.
        df.withColumn("ts", expr(
          "make_timestamp(year(ts), month(ts), day(ts), hour(ts), minute(ts), " +
            "extract(SECOND FROM ts), 'UTC')").cast(TimestampType))
      case _                => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
