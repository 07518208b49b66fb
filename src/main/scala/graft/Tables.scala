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

  /** Scratch root for a write-once fixture, scoped by (session,
    * corpus): `/tmp/graft_fixtures/<name>/<sessionUUID>/<md5(sfDir)>`.
    * One dir per (session, corpus) means concurrent sessions never
    * overwrite each other's fixtures mid-scan and different-SF runs
    * within a session never race — the ONE keying recipe every
    * fixture-writing op shares (a per-op copy of this logic is how
    * keying schemes silently drift apart).
    */
  def fixtureRoot(spark: SparkSession, sfDir: String, name: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val sid = org.apache.spark.sql.graftbridge.Bridge.sessionUUID(spark)
    s"/tmp/graft_fixtures/$name/$sid/$digest"
  }

  /** Drop every on-disk fixture this session wrote under
    * [[fixtureRoot]] (join_bucketed, scan_partitioned,
    * scan_schema_evolution, …) plus the catalog entries the bucketed
    * fixture registered — the teardown hook a long-lived service
    * calls, mirroring `LlmOps.deleteIvfScratch` /
    * `LayoutOps.evictCompactScratch` (ADVICE r10/r11: the fixture
    * family was the one scratch class with no eviction path; fixture
    * ops re-check the path on next use, so evict-then-reuse heals by
    * rewriting).
    */
  def evictFixtures(spark: SparkSession): Unit = {
    val sid = org.apache.spark.sql.graftbridge.Bridge.sessionUUID(spark)
    // the bucketed fixture derives its catalog names from the last
    // two root segments, dash-stripped and truncated to 12 — match
    // that tag so only THIS session's tables drop
    val sidTag = sid.replace("-", "").take(12)
    spark.catalog.listTables().collect().map(_.name)
      .filter(t => t.startsWith("graft_") && t.contains(sidTag))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val base = new java.io.File("/tmp/graft_fixtures")
    if (base.isDirectory) base.listFiles().foreach { nameDir =>
      val sidDir = new java.io.File(nameDir, sid)
      if (sidDir.isDirectory) {
        val root = sidDir.toPath
        val w = java.nio.file.Files.walk(root)
        try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach { p => java.nio.file.Files.deleteIfExists(p); () }
        finally w.close()
      }
    }
  }
}
