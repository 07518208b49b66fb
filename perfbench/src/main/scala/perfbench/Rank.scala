package perfbench

/** Per-query ranking under full materialization: one cold pass, then
  * `--rank` warm passes in a fresh random order each, reporting every
  * query's median and maximum. Used to re-rank the slowest queries. */
object Rank {
  def run(spark: org.apache.spark.sql.SparkSession, a: Main.Args): Unit = {
    val keys = a.queries.getOrElse(
      graft.SparkEntry.all.map(_.key).filterNot(Main.WritesOutside))
    val sweep = new QuerySweep(a.data, keys)
    val rng = new scala.util.Random(a.seed)
    val cold = sweep.pass(spark, keys)
    cold.foreach(r => System.err.println(f"[rank] cold ${r.key} ${r.buildStartMs} ${r.totalS}%.3f"))
    val warm = (1 to a.rankPasses).flatMap(_ => sweep.pass(spark, rng.shuffle(keys)))
    val res = warm.groupBy(_.key).map { case (k, rs) =>
      val t = rs.map(_.totalS)
      k -> Map("median_s" -> Stats.median(t), "max_s" -> t.max, "min_s" -> t.min,
        "build_s" -> Stats.median(rs.map(_.buildS)),
        "cold_s" -> cold.find(_.key == k).map(_.totalS).getOrElse(-1.0),
        "failed" -> rs.exists(_.error.nonEmpty), "module" -> Registry.moduleOf(k))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), Json(res))
  }
}
