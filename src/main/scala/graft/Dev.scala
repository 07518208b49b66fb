package graft

import org.apache.spark.sql.SparkSession

/** Iteration helper (not part of the driver contract): run a subset of
  * `SparkEntry.queries` with full stack traces, write results like
  * Verify does. Usage: runMain graft.Dev <sfDir> <outDir> [name ...]
  * With no names: run everything. With `-x`: print explain(formatted).
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val explain = args.contains("-x")
    val explainFinal = args.contains("-xf")
    val timing = args.contains("-t")
    val rest = args.filterNot(a => a == "-x" || a == "-t" || a == "-xf")
    val sfDir = rest(0)
    val outDir = rest(1)
    val names = if (rest.length > 2) rest.drop(2).toSet
                else SparkEntry.queries.keySet
    val unknown = names -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — a typo here " +
        "would otherwise run nothing, exit 0, and leave stale parquet " +
        "for verify_local.py to PASS against")
    // default local[8] keeps iteration snappy; SPARK_GRAFT_CPUS=32
    // reproduces the driver bench config for timing comparisons
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    var failed = 0
    SparkEntry.queries.filter(k => names(k._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        if (explain) { println(s"== $name =="); df.explain("formatted") }
        if (explainFinal) {
          // the ADAPTIVE final plan — exchange/stage reuse only shows
          // here, never in the pre-execution explain. Must execute THIS
          // DataFrame's own QueryExecution (count() would build and run
          // a different one and leave this plan isFinalPlan=false).
          df.collect()
          println(s"== $name (final) ==")
          println(df.queryExecution.executedPlan.toString)
        }
        if (timing) {
          (1 to 3).foreach { i =>
            // the full result: count() lets Catalyst drop sorts and joins
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            println(f"[dev] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
          }
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        println(s"[dev] $name OK")
      } catch {
        case e: Throwable =>
          failed += 1
          println(s"[dev] $name FAILED: ${e.getMessage}")
          e.printStackTrace()
      }
    }
    // keep the oracle snapshot fresh so tools/verify_local.py never
    // compares against stale SQL
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSqlJson)
    Memo.clear(spark)
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
