package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: rewrite a pure time-TOLERANCE join into a bucketed
  * equi-join — the `Rule[LogicalPlan]` tier of the custom-extension
  * ladder (expression → rule → strategy/SparkPlan; AsOfJoin covers
  * the strategy tier).
  *
  * The problem: `a JOIN b ON abs(a.t − b.t) <= tol` has NO equi
  * predicate, so Spark can only plan a nested-loop product
  * (BroadcastNestedLoopJoin / CartesianProduct) — O(|a|·|b|)
  * comparisons, a non-starter at 100 TB ("match each event to any
  * incident within ±60 s" is a real shape: alert correlation, clock
  * alignment, sensor fusion — and it has no join key by nature).
  *
  * The rewrite is the bucket argument join_asof_nearest uses by
  * hand, promoted to an AUTOMATIC plan transformation: with bucket
  * width w = tol,
  *
  *   |x − y| <= tol  ⇒  bkt(y) ∈ { bkt(x)−1, bkt(x), bkt(x)+1 }
  *
  * (integer division is monotone; for |u−v| <= 1 the truncated
  * quotients differ by at most 1 — holds across 0 too). So: explode
  * the LEFT side to its three candidate buckets, project the bucket
  * on the right, join on bucket EQUALITY, and keep the original
  * tolerance predicate as the residual filter. Each qualifying pair
  * survives EXACTLY once (a right row has one bucket; the three left
  * buckets are distinct), so multiplicity — and therefore every
  * aggregate downstream — is preserved bit-for-bit. Cost: 3× the
  * left rows through one hash shuffle vs |a|·|b| comparisons.
  *
  * Fires only when it is provably safe and profitable:
  *  - BATCH plans only (`!j.isStreaming`): a stream-stream join has
  *    its own planning constraints (watermark-driven state eviction
  *    keys off the raw time columns) that a Generate in front of the
  *    join would break;
  *  - INNER join whose condition contains a conjunct of shape
  *    `abs(x − y) <= lit` (or `lit >= abs(x − y)`), x and y LongType,
  *    sides resolvable to left/right in either order, tol > 0;
  *  - NO existing cross-side equi conjunct (if one exists Spark
  *    already plans an equi-join; the bucket would only add width);
  *  - every other conjunct is left intact in the rewritten join's
  *    residual, so semantics never depend on what else is in the ON.
  *
  * The guard also makes the rule CONVERGENT under the optimizer's
  * fixed-point batch: the rewritten join contains a cross-side equi
  * conjunct (the bucket), so it can never match again.
  *
  * [[graft.Tables.configure]] installs it into every session that
  * loads a table ([[ToleranceJoinRule.register]]).
  */
object ToleranceJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  /** (x, y, tol) with x from `left`, y from `right`. */
  private def toleranceConjunct(p: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Long)] = {
    def sides(x: Expression, y: Expression, tol: Long) = {
      if (x.references.subsetOf(left.outputSet) &&
          y.references.subsetOf(right.outputSet)) Some((x, y, tol))
      else if (y.references.subsetOf(left.outputSet) &&
               x.references.subsetOf(right.outputSet)) Some((y, x, tol))
      else None
    }
    p match {
      case LessThanOrEqual(Abs(Subtract(x, y, _), _), Literal(tol: Long, LongType))
          if tol > 0 && x.dataType == LongType && y.dataType == LongType =>
        sides(x, y, tol)
      case GreaterThanOrEqual(Literal(tol: Long, LongType), Abs(Subtract(x, y, _), _))
          if tol > 0 && x.dataType == LongType && y.dataType == LongType =>
        sides(x, y, tol)
      case _ => None
    }
  }

  private def isCrossSideEqui(p: Expression, left: LogicalPlan,
      right: LogicalPlan): Boolean = p match {
    case EqualTo(a, b) =>
      (a.references.subsetOf(left.outputSet) &&
        b.references.subsetOf(right.outputSet)) ||
      (b.references.subsetOf(left.outputSet) &&
        a.references.subsetOf(right.outputSet))
    case EqualNullSafe(a, b) =>
      (a.references.subsetOf(left.outputSet) &&
        b.references.subsetOf(right.outputSet)) ||
      (b.references.subsetOf(left.outputSet) &&
        a.references.subsetOf(right.outputSet))
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if j.resolved && !j.isStreaming && {
          val ps = splitConjunctivePredicates(cond)
          ps.exists(toleranceConjunct(_, left, right).isDefined) &&
            !ps.exists(isCrossSideEqui(_, left, right))
        } =>
      val ps = splitConjunctivePredicates(cond)
      val (x, y, tol) =
        ps.flatMap(toleranceConjunct(_, left, right)).head
      val w = Literal(tol, LongType)
      // left: explode to the three candidate buckets (bkt−1, bkt, bkt+1)
      val bktX = IntegralDivide(x, w)
      val bktAttr = AttributeReference("graft_tol_bkt", LongType,
        nullable = true)()
      val gen = Generate(
        Explode(CreateArray(Seq(
          Subtract(bktX, Literal(1L, LongType)),
          bktX,
          Add(bktX, Literal(1L, LongType))))),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(bktAttr), child = left)
      // right: one bucket per row
      val bktYAlias = Alias(IntegralDivide(y, w), "graft_tol_bkt_r")()
      val projR = Project(right.output :+ bktYAlias, right)
      // bucket EQUALITY carries the join; the ORIGINAL condition —
      // tolerance predicate included — stays as the residual verbatim
      val newJoin = Join(gen, projR, Inner,
        Some(And(EqualTo(bktAttr, bktYAlias.toAttribute), cond)), hint)
      Project(j.output, newJoin)
  }

  /** Adds this rule to the session's extra optimizations when absent. */
  def register(spark: SparkSession): Unit = {
    val rules = spark.experimental.extraOptimizations
    if (!rules.contains(ToleranceJoinRule)) {
      spark.experimental.extraOptimizations = rules :+ ToleranceJoinRule
    }
  }
}
