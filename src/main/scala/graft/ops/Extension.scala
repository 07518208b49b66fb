package graft.ops

import graft.{Op, OpModule, Tables}
import org.apache.spark.sql.functions._

/** UDF / UDTF surface (SURVEY.md §2.11): the custom scalar expression
  * exposed as a query of its own, and the generator (one row → n
  * rows) op. The typed-UDAF leg of §2.11 is `agg_udaf_weighted`.
  */
object Extension extends OpModule {

  override def ops: Seq[Op] = Seq(

    // op 74 — custom Catalyst expression through the SQL registry.
    // Spark-specific hash family → no DuckDB oracle; determinism,
    // seed-independence and codegen/interpreted agreement are pinned
    // in LlmSpec.
    Op("udf_expr_hash",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"),
            call_function("graft_seeded_hash", col("text"), lit(1L)).as("h_seed1"),
            call_function("graft_seeded_hash", col("text"), lit(2L)).as("h_seed2"))
          .orderBy("doc_id")
      },
      None),

    // op 75 — generator/UDTF: flatten each document into one row per
    // token with its position (the built-in Generator path; the
    // Dataset.flatMap rendering is asserted equivalent in LlmSpec)
    Op("udtf_explode_props",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .withColumnRenamed("col", "token")
        .select("doc_id", "pos", "token")
        .orderBy("doc_id", "pos"),
      Some("""WITH t AS (
                SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
              SELECT doc_id,
                CAST(generate_subscripts(toks, 1) - 1 AS INTEGER) AS pos,
                unnest(toks) AS token
              FROM t ORDER BY doc_id, pos""")),

    Op("meta_lineage",
      // column-level lineage from the ANALYZED plan (graft.plans.
      // Lineage): for a representative join+aggregate query, every
      // output column's leaf (table, column) feeders — the governance
      // artifact a CDC consumer publishes next to the data. The plan
      // is never executed; edges are driver metadata bounded by
      // schema width. The oracle is the constant expectation (a
      // golden check under the driver gate): lineage of a FIXED query
      // is a constant, and PlanSpec pins the alias/window/generate/
      // union walk cases besides.
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val q = li.join(o, li("l_orderkey") === o("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"),
            countDistinct(col("l_partkey")).as("n_parts"))
        import s.implicits._
        graft.plans.Lineage.lineage(q)
          .toDF("out_col", "src_table", "src_col")
          .orderBy("out_col", "src_table", "src_col")
      },
      Some("""SELECT * FROM (VALUES
                ('n_parts', 'lineitem', 'l_partkey'),
                ('o_custkey', 'orders', 'o_custkey'),
                ('revenue', 'lineitem', 'l_discount'),
                ('revenue', 'lineitem', 'l_extendedprice'))
                AS t(out_col, src_table, src_col)
              ORDER BY out_col, src_table, src_col"""))
  )
}
