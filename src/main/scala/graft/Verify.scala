package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run correctness dump: `Verify <sfDir> <outDir> [name ...]`
  * writes each registered query's result (or only the named ones) to
  * `<outDir>/<name>` as parquet, plus `oracle_sql.json`, for the
  * DuckDB compare of `tools/verify_local.py`. A query that fails is
  * reported on stderr and skipped; the exit code stays 0. */
object Verify {
  def main(args: Array[String]): Unit = {
    val queries = Harness.select(args.toSeq.drop(2))
    Harness.session { spark => dump(spark, args(0), args(1), queries)(); true }
  }

  /** Runs each of `queries` on `sfDir`, hands its frame to `inspect`,
    * then writes it to `<outDir>/<name>` as one parquet file; writes
    * `oracle_sql.json` last. Returns the number of queries that
    * failed, each reported on stderr with its stack trace. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, Harness.Query)])(
      inspect: (String, DataFrame) => Unit = (_, _) => ()): Int = {
    Files.createDirectories(Paths.get(outDir))
    val failed = queries.count { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        inspect(name, df)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        false
      } catch {
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: $e")
          e.printStackTrace()
          true
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), SparkEntry.oracleSqlJson)
    failed
  }
}
