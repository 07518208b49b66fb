package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed execution of a registered query: building the DataFrame
  * (`Op.fn`, which includes analysis and any session-memo builds) and
  * materializing its full result with the no-op writer, which
  * computes every column and the final sort. `count()` is never used:
  * it lets Catalyst prune the sort, windows and joins. */
final case class QueryRun(key: String, buildS: Double, writeS: Double,
    buildStartMs: Long, writeStartMs: Long, group: String, error: Option[String]) {
  def totalS: Double = buildS + writeS
}

/** The batch half of a workload: a closed loop of one client running
  * the query set on one data directory. */
class QuerySweep(dataDir: String, val keys: Seq[String]) {
  private var runs = 0L

  def runOnce(spark: SparkSession, key: String, traced: Boolean,
      execute: Boolean = true): QueryRun = {
    val sc = spark.sparkContext
    runs += 1
    val group = s"pb-$runs-$key"
    // the job group tags every job and SQL execution of this query, so
    // listener events are attributed without draining the listener bus
    if (traced) sc.setJobGroup(group, key, interruptOnCancel = false)
    val buildStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var writeStartMs = buildStartMs
    val error = try {
      val df = Registry.ops(key).fn(spark, dataDir)
      t1 = System.nanoTime()
      writeStartMs = System.currentTimeMillis()
      if (execute) df.write.format("noop").mode("overwrite").save()
      None
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $key failed: $e")
        Some(e.toString)
    } finally if (traced) sc.clearJobGroup()
    if (t1 == t0) t1 = System.nanoTime()
    val t2 = System.nanoTime()
    QueryRun(key, (t1 - t0) / 1e9, (t2 - t1) / 1e9, buildStartMs, writeStartMs,
      group, error)
  }

  /** One pass over every query, in the given order. */
  def pass(spark: SparkSession, order: Seq[String], traced: Boolean = false): Seq[QueryRun] =
    order.map(runOnce(spark, _, traced))

  /** Build every query's DataFrame without executing it: analysis plus
    * the session-memo builds `Op.fn` performs. */
  def buildAll(spark: SparkSession, order: Seq[String]): Seq[QueryRun] =
    order.map(runOnce(spark, _, traced = false, execute = false))

  /** Order-insensitive content fingerprint of a result: row count,
    * and the sum and xor of a per-row 64-bit hash over its JSON
    * rendering (which every column type has). */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")), bit_xor(h)).head()
    s"${r.get(0)}|${r.get(1)}|${r.get(2)}"
  }

  /** Output check, outside every timed repetition. Oracle-backed
    * queries are dumped as parquet for the DuckDB compare run.py
    * performs; the others must fingerprint identically on two
    * executions. `plant` names a query whose dumped or second result
    * is deliberately corrupted (the benchmark's self-test). Returns
    * the queries that failed here and the oracle SQL of the dumped
    * ones. */
  def check(spark: SparkSession, outDir: String,
      plant: Option[String]): (Seq[String], Map[String, String]) = {
    val failed = Seq.newBuilder[String]
    val oracles = Map.newBuilder[String, String]
    keys.foreach { key =>
      val op = Registry.ops(key)
      try op.oracle match {
        case Some(sql) =>
          val df = op.fn(spark, dataDir)
          val out = if (plant.contains(key)) df.union(df.limit(1)) else df
          out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$key")
          oracles += key -> sql
        case None =>
          val a = fingerprint(op.fn(spark, dataDir))
          val b0 = op.fn(spark, dataDir)
          val b = fingerprint(if (plant.contains(key)) b0.union(b0.limit(1)) else b0)
          if (a != b) {
            System.err.println(s"[perfbench] $key: repeated result differs: $a vs $b")
            failed += key
          }
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] check $key failed: $e")
          failed += key
      }
    }
    (failed.result(), oracles.result())
  }
}
