package graft

import graft.functions.VectorKernels
import graft.plans.{AsOfJoin, ToleranceJoinRule}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders for the driver-generated testdata
  * (`/root/testdata/sf*`; schemas in FIXTURES.md).
  *
  * Design notes (100 TB posture):
  *  - All reads are plain `spark.read.parquet` so Catalyst's column
  *    pruning / predicate pushdown reach the scan untouched; no
  *    driver-side materialization ever happens here.
  *  - Every load runs [[configure]], the one place graft installs
  *    itself into a session: sessions built elsewhere (the driver's
  *    Verify/Bench, perfbench, `Harness`) lack graft's confs, SQL
  *    functions and planner rules, so a query has them once its first
  *    table is loaded and the ops install nothing themselves. Code
  *    running graft functions over frames not loaded here (a test
  *    calling a helper on `createDataFrame` input) calls [[configure]]
  *    once first.
  */
object Tables {

  /** Installs graft into `spark`; idempotent, and cheap enough to run
    * on every load: the runtime confs (UTC session zone, parquet
    * timestamp[ns] read as long nanos, AQE), every graft SQL function
    * the session lacks ([[graft.functions.VectorKernels.register]]),
    * and the as-of planner strategy and tolerance-join optimizer rule
    * when absent. */
  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // events.ts is parquet timestamp[ns]; Spark has no ns timestamp.
    // Read as long nanos and convert explicitly (FIXTURES.md).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // one lock: concurrent first loads would otherwise both see a rule
    // or function absent and add it twice
    synchronized {
      VectorKernels.register(spark)
      AsOfJoin.register(spark)
      ToleranceJoinRule.register(spark)
    }
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
