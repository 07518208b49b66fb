package graft

/** Registry-wide column-lineage artifact (VERDICT r19 stretch #8):
  * [[graft.plans.Lineage]] walked one fixed query; this main walks
  * EVERY registered plan and emits the full
  * (query, output_col, src_table, src_col) governance table — the
  * catalog a warehouse/CDC consumer publishes beside the data so
  * "which physical columns feed this output" is answerable for the
  * whole surface without reading code.
  *
  * Plans are analyzed, never executed (driver metadata, bounded by
  * schema width × plan depth); the only jobs that run are the
  * session-memo/fixture builds some ops perform while CONSTRUCTING
  * their DataFrame, which is why the audit runs at the smallest SF.
  * Leaves that are not parquet scans report their plan class
  * (InMemoryRelation / LogicalRDD / LocalRelation) — honest
  * coordinates for memoized or fixture-backed relations.
  *
  * Output: a TSV (committed as LINEAGE.tsv) sorted by
  * (query, out_col, src_table, src_col), plus a stderr summary naming
  * any query whose lineage came back EMPTY — the constant-folding
  * canary (an all-literal output references no source at all);
  * PlanSpec enforces non-emptiness for every oracled query.
  */
object LineageAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "LINEAGE.tsv"
    val queries = Harness.select(Nil)
    Harness.session { spark =>
      val rows = Seq.newBuilder[(String, String, String, String)]
      var empty = List.empty[String]
      var failed = List.empty[String]
      queries.foreach { case (name, fn) =>
        try {
          val edges = graft.plans.Lineage.lineage(fn(spark, sfDir))
          if (edges.isEmpty) empty ::= name
          edges.foreach { case (o, t, c) => rows += ((name, o, t, c)) }
        } catch {
          case e: Throwable =>
            failed ::= name
            System.err.println(s"[lineage] $name FAILED: ${e.getMessage}")
        }
      }
      val all = rows.result().sorted
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        ("query\tout_col\tsrc_table\tsrc_col" +: all.map(_.productIterator.mkString("\t")))
          .mkString("", "\n", "\n"))
      println(s"[lineage] ${all.size} edges over ${queries.size} queries -> $out")
      if (empty.nonEmpty)
        println(s"[lineage] EMPTY lineage (constant-folded?): " +
          empty.sorted.mkString(", "))
      if (failed.nonEmpty)
        println(s"[lineage] FAILED: ${failed.sorted.mkString(", ")}")
      failed.isEmpty
    }
  }
}
