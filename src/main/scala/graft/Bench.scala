package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every registered query's
  * full result ([[Harness.time]]) on `SPARK_GRAFT_SF_DIR` in two whole
  * passes, cold then warm, and scores each query by its faster pass.
  * The cold pass carries every one-time cost (code generation, session
  * memo builds) and is reported as well.
  *
  * Stdout carries two JSON lines: [[queriesLine]], then the summary of
  * [[Run.summary]] as the last line. The file `SPARK_GRAFT_BENCH_OUT`
  * (default `BENCH_LOCAL.json`) holds the summary, both passes, the
  * per-query minimum and the errors ([[Run.report]]). A query that
  * throws is timed -1, named in `errors` and on stderr, and left out of
  * every total; the exit code is then 1.
  */
object Bench {

  /** The most bytes the `queries` line may take, so that a bounded tail
    * capture of the run log keeps it and the summary line whole. */
  val QueriesLineMax = 1500

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val queries = Harness.select(Nil)
    Harness.session { spark =>
      warmUp(spark, sfDir)
      val errors = collection.mutable.LinkedHashMap[String, String]()
      def sweep(pass: Int): Map[String, Double] = ListMap(queries.map { case (name, fn) =>
        name -> (try Harness.time(fn(spark, sfDir)) catch {
          case e: Throwable =>
            errors(s"p$pass:$name") = e.toString
            System.err.println(s"[bench] FAILED p$pass:$name: $e")
            -1.0
        })
      }: _*)
      val run = Run(sfDir, sweep(1), sweep(2), ListMap.from(errors))
      println(queriesLine(run.best))
      println(Harness.json(run.summary))
      try Files.writeString(Paths.get(out), Harness.json(run.report))
      catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
      errors.isEmpty
    }
  }

  /** Runs a scan, a shuffle and the custom kernels once, so the JVM's
    * start-up cost does not land on whichever query runs first. */
  private def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().collect()
      spark.range(1).selectExpr(
        "graft_simhash_text(array('a','b')) AS a",
        "graft_minhash(array('a','b'), 16) AS b",
        "graft_dot(array(1.0d), array(1.0d)) AS c",
        "graft_best_centroid(array(1.0d), array(array(1.0d))) AS d",
        "graft_rpbands(array(1.0d), 16, 24, 7) AS e").collect()
    } catch { case _: Throwable => () }

  /** Both passes of one run: seconds per query, -1 where it threw;
    * `errors` maps `p<pass>:<name>` to the exception. */
  final case class Run(sf: String, cold: Map[String, Double], warm: Map[String, Double],
      errors: Map[String, String]) {

    /** Each query's faster pass; -1 where both threw. */
    val best: Map[String, Double] = cold.map { case (k, c) =>
      val w = warm.getOrElse(k, -1.0)
      k -> (if (c < 0) w else if (w < 0) c else math.min(c, w))
    }

    /** The last stdout line: headline scalars only. */
    def summary: ListMap[String, Any] = ListMap(
      "metric" -> "total", "value" -> total(best), "unit" -> "sec",
      "n_queries" -> best.size, "value_cold" -> total(cold),
      "n_failed" -> errors.keys.map(_.dropWhile(_ != ':').drop(1)).toSet.size,
      "sf" -> sf)

    /** The file report: the summary, both passes, the minimum and the
      * errors. */
    def report: ListMap[String, Any] = summary ++ ListMap(
      "queries" -> best, "queries_cold" -> cold, "queries_warm" -> warm, "errors" -> errors)

    // a failed query's -1 never counts
    private def total(m: Map[String, Double]): Double = m.values.filter(_ >= 0).sum
  }

  /** `{"metric":"queries","queries":{…}}`: the slowest entries of
    * `best`, slowest first at 3 decimals, as many as fit in
    * [[QueriesLineMax]] bytes. */
  def queriesLine(best: Map[String, Double]): String = {
    val slowest = best.toSeq.sortBy { case (k, v) => (-v, k) }
      .map { case (k, v) => k -> (if (v < 0) -1 else Harness.round(v, 3)) }
    slowest.inits
      .map(kv => Harness.json(ListMap("metric" -> "queries", "queries" -> ListMap(kv: _*))))
      .find(_.getBytes(UTF_8).length <= QueriesLineMax).get
  }
}
