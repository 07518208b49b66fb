package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders for the driver-generated testdata
  * (`/root/testdata/sf*`; schemas in FIXTURES.md).
  *
  * Design notes (100 TB posture):
  *  - All reads are plain `spark.read.parquet` so Catalyst's column
  *    pruning / predicate pushdown reach the scan untouched; no
  *    driver-side materialization ever happens here.
  *  - Session tuning (AQE, UTC, shuffle partitions) is applied
  *    idempotently on every load because the driver's Verify/Bench
  *    mains build their own sessions without these flags
  *    (SURVEY.md §7 "hard parts").
  */
object Tables {

  /** Idempotent session posture. Runtime-settable confs only. */
  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // events.ts is parquet timestamp[ns]; Spark has no ns timestamp.
    // Read as long nanos and convert explicitly (FIXTURES.md).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    configure(spark)
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** `events` with `ts` normalized to TimestampType(µs) regardless of
    * how the parquet encoded it. The driver has shipped the column two
    * ways across rounds: timestamp[ns] (which `nanosAsLong` surfaces
    * as long nanos — convert with integer `DIV` so 64-bit precision
    * survives; truncation toward −∞ for positive epochs matches
    * DuckDB's TIMESTAMP_NS→TIMESTAMP cast) and timestamp[us] (read
    * natively — already the target type). Dispatching on the actual
    * scan schema instead of assuming one encoding is what kept r12's
    * testdata regeneration from breaking every events query twice.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventTs(load(spark, sfDir, "events"))

  /** Normalize a raw events relation's `ts` to TimestampType (LTZ µs):
    * long nanos convert via integer DIV; a tz-less parquet
    * timestamp[us] (which Spark 4 infers as TIMESTAMP_NTZ) casts under
    * the session's pinned UTC zone — same instant DuckDB sees reading
    * the naive column; an LTZ timestamp passes through. Downstream
    * (`unix_micros`, windowing) requires LTZ. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
}
