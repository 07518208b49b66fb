package graft

import graft.plans.{AsOfStrategy, ToleranceJoinRule}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Graft's install into a session ([[Tables.configure]], run by every
  * table load): it adds what the session lacks and replaces nothing,
  * and a query's functions and rules are present when it is the first
  * thing a fresh session runs. */
class InstallSpec extends SparkSpec {

  private val graftFunctions = Seq("graft_tokens", "graft_winnow_fps",
    "graft_window_hashes", "graft_char_ngrams", "graft_quant8", "graft_dot",
    "graft_simhash64", "graft_simhash_text", "graft_shingles", "graft_shingles_sorted",
    "graft_rpbands", "graft_best_centroid", "graft_best_centroid_l2",
    "graft_cos_centroids", "graft_minhash", "graft_seeded_hash")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("building queries twice in one session installs nothing new") {
    val s = spark.newSession()
    val queries = Seq("llm_dedup_jaccard", "udf_expr_hash", "join_tolerance_rule")
    val reg = s.sessionState.functionRegistry
    // a replaced function gets a new ExpressionInfo, and a new builder
    // wherever the builder captures anything
    def installed(): Seq[(AnyRef, AnyRef)] = graftFunctions.map { n =>
      val id = FunctionIdentifier(n)
      (reg.lookupFunctionBuilder(id).orNull, reg.lookupFunction(id).orNull)
    }
    try {
      queries.foreach(SparkEntry.queries(_)(s, sf001))
      val first = installed()
      assert(first.forall { case (b, i) => b != null && i != null }, graftFunctions)
      queries.foreach(SparkEntry.queries(_)(s, sf001))
      first.zip(installed()).zip(graftFunctions).foreach { case (((b0, i0), (b1, i1)), n) =>
        assert((b0 eq b1) && (i0 eq i1), s"$n was registered again")
      }
      assert(s.sessionState.experimentalMethods.extraStrategies.count(_ == AsOfStrategy) == 1)
      assert(s.sessionState.experimentalMethods.extraOptimizations
        .count(_ == ToleranceJoinRule) == 1)
    } finally Memo.clear(s)
  }

  test("each kernel-using module's query works as the first thing a fresh session runs") {
    val queries = Seq("llm_dedup_jaccard", "udf_expr_hash", "join_asof",
      "join_tolerance_rule", "llm_simsearch_ivfpq", "llm_dedup_incr_near")
    for (q <- queries) {
      val s: SparkSession = spark.newSession()
      try {
        val df = SparkEntry.queries(q)(s, sf001)
        val got = rows(df)
        val plan = df.queryExecution.executedPlan.toString
        q match {
          case "join_asof" => assert(plan.contains("AsOfJoin"), plan)
          case "join_tolerance_rule" => assert(!plan.contains("NestedLoopJoin") &&
            !plan.contains("CartesianProduct"), plan)
          case _ =>
        }
        assert(got.nonEmpty, q)
        assert(got == rows(SparkEntry.queries(q)(spark, sf001)), s"$q: fresh session differs")
      } finally Memo.clear(s)
    }
  }

  test("a graft function's integer argument must be a literal") {
    val e = intercept[Exception](
      spark.range(3).selectExpr("graft_minhash(array('a', 'b'), CAST(id AS INT))").collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("graft_minhash k must be a literal integer, got")),
      e.toString)
  }
}
