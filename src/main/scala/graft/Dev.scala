package graft

/** Iteration helper (not part of the driver contract): [[Verify]]'s
  * dump plus three flags, exiting 1 when a query fails.
  * Usage: `Dev [-x] [-xf] [-t] <sfDir> <outDir> [name ...]`.
  *  - `-x`: print each query's `explain("formatted")`;
  *  - `-xf`: run it and print its final adaptive plan;
  *  - `-t`: time its full result three times ([[Harness.time]]).
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val flags = Set("-x", "-xf", "-t")
    val Seq(sfDir, outDir, names @ _*) = args.toSeq.filterNot(flags)
    val queries = Harness.select(names)
    val fns = queries.toMap
    Harness.session { spark =>
      Verify.dump(spark, sfDir, outDir, queries) { (name, df) =>
        if (args.contains("-x")) { println(s"== $name =="); df.explain("formatted") }
        if (args.contains("-xf")) {
          // the adaptive final plan: exchange and stage reuse only show
          // here. It must run this frame's own QueryExecution.
          df.collect()
          println(s"== $name (final) ==")
          println(df.queryExecution.executedPlan.toString)
        }
        if (args.contains("-t")) (1 to 3).foreach { i =>
          println(f"[dev] $name run$i: ${Harness.time(fns(name)(spark, sfDir))}%.2fs")
        }
      } == 0
    }
  }
}
