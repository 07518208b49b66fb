package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, BoundReference, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.Bridge

/** Native as-of join (SURVEY.md §2.3 op 21, §4.3 v2): for each left
  * row, attach the single right row with the same key and the
  * greatest right-time <= left-time (ties broken by the largest
  * tiebreak value); left rows with no match null-extend.
  *
  * Built as a first-class operator — LogicalPlan node → Strategy →
  * physical BinaryExecNode — instead of the union+window rewrite
  * (kept as `join_asof_window` for comparison). The physical plan
  * declares ClusteredDistribution on the key and a per-partition
  * (key, time) sort requirement, so EnsureRequirements inserts
  * exactly one hash shuffle + sort per side; the merge itself is a
  * streaming O(n+m) per-partition pass holding ONE buffered right
  * row — no window state, no unioned wide schema. At 100 TB this is
  * the same stage shape as a sort-merge join, with memory O(1) per
  * partition beyond the sort.
  *
  * Settlement vs the window rewrite (VERDICT r3 #6, r4 measurements;
  * r5 numbers in BASELINE.md): native 0.87 cold / 0.52 warm vs
  * rewrite 0.45/0.23 at local[32] sf0.1, AFTER the r5 whole-stage
  * codegen below fused the merge into the span. The remaining delta
  * is per-stage overhead at toy scale (two exchanges + two small
  * sorts vs one exchange + one bigger sort), not the merge loop —
  * no merge-side change can remove a whole exchange. The native
  * operator stays REGISTERED
  * because it is the right plan at 100 TB, where the rewrite loses on
  * two axes that the toy benchmark cannot see:
  *  - shuffle volume: the union shuffles EVERY row at the combined
  *    schema width — UnsafeRow null slots still occupy their 8-byte
  *    words, so bytes ≈ (w_l + w_r)·(n_l + n_r) vs the native's
  *    w_l·n_l + w_r·n_r (≈2× at equal widths);
  *  - memory: WindowExec buffers each key's whole group (a hot key
  *    buffers its entire history; spill at best), while the merge
  *    holds one buffered right row regardless of skew.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTie: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tie) =>
      AsOfJoinExec(lk, rk, lt, rt, tie, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression, rightTie: Expression,
    left: SparkPlan, right: SparkPlan)
    extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightTie, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  // rows never leave their left partition: advertise the left child's
  // partitioning so a downstream groupBy/join on the same key reuses
  // it instead of re-exchanging
  override def outputPartitioning:
      org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning

  /** Ordinal of `e` in `out` when the merge can read it with
    * `row.getLong` — an attribute whose physical storage IS an 8-byte
    * long (long / timestamp / timestamp_ntz). Int-backed types (int,
    * date, short) are excluded: their UnsafeRow slot holds the value
    * in the low 4 bytes only, so getLong would misread negatives. */
  private def longOrdinal(e: Expression, out: Seq[Attribute]): Int = e match {
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
      import org.apache.spark.sql.types._
      val i = out.indexWhere(_.exprId == a.exprId)
      val longBacked = a.dataType match {
        case LongType | TimestampType | TimestampNTZType => true
        case _ => false
      }
      if (i >= 0 && longBacked) i else -1
    case _ => -1
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val keyOrd = PhysicalDataType.ordering(leftKey.dataType)
      .asInstanceOf[Ordering[Any]]
    val timeOrd = PhysicalDataType.ordering(leftTime.dataType)
      .asInstanceOf[Ordering[Any]]
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTime = BindReferences.bindReference(leftTime, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    val lKeyOrd = longOrdinal(leftKey, left.output)
    val lTimeOrd = longOrdinal(leftTime, left.output)
    val rKeyOrd = longOrdinal(rightKey, right.output)
    val rTimeOrd = longOrdinal(rightTime, right.output)
    val fastPath = lKeyOrd >= 0 && lTimeOrd >= 0 && rKeyOrd >= 0 && rTimeOrd >= 0
    val rightSchema = right.output
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val nullRight = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(rightSchema.size)
      val joined = new JoinedRow
      val project = UnsafeProjection.create(outAttrs, outAttrs)
      val rBuf = rIter.buffered
      // candidate survives rBuf.next() reusing its row: keep ONE
      // UnsafeRow buffer and copyFrom into it — no allocation per
      // consumed right row (sort output is always UnsafeRow; a generic
      // row — not produced by any current child — falls back to copy)
      var candidate: InternalRow = null
      var candidateBuf: org.apache.spark.sql.catalyst.expressions.UnsafeRow = null
      def keepCandidate(r: InternalRow): Unit = r match {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
          if (candidateBuf eq null) candidateBuf = u.copy()
          else candidateBuf.copyFrom(u)
          candidate = candidateBuf
        case other => candidate = other.copy()
      }
      var prevKey: Any = null
      var havePrev = false

      def genericLoop(lRow: InternalRow): InternalRow = {
        val k = lKey.eval(lRow)
        val t = lTime.eval(lRow)
        if (k == null || t == null) {
          // SQL comparison semantics: a null key or null left time
          // matches nothing → null-extend without consuming right rows
          joined(lRow, nullRight)
        } else {
          if (!havePrev || keyOrd.compare(k, prevKey) != 0) {
            candidate = null
            prevKey = k
            havePrev = true
          }
          // advance the right side up to (key, time]: every consumed
          // equal-key row with time <= t supersedes the previous
          // candidate (right is sorted by time then tiebreak)
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rRow = rBuf.head
            val rk = rKey.eval(rRow)
            if (rk == null) { rBuf.next() } // null keys never match
            else {
              val c = keyOrd.compare(rk, k)
              if (c < 0) { rBuf.next() }
              else if (c == 0) {
                val rt = rTime.eval(rRow)
                if (rt == null) { rBuf.next() } // null time never matches
                else if (timeOrd.compare(rt, t) <= 0) {
                  keepCandidate(rBuf.next())
                } else advancing = false
              } else advancing = false
            }
          }
          joined(lRow, if (candidate ne null) candidate else nullRight)
        }
      }

      // unboxed merge: same control flow as genericLoop with raw-long
      // key/time reads and primitive comparisons — no Ordering[Any],
      // no per-row boxing (VERDICT r3 #6 "unboxed comparators")
      var fPrevKey = 0L
      def fastLoop(lRow: InternalRow): InternalRow = {
        if (lRow.isNullAt(lKeyOrd) || lRow.isNullAt(lTimeOrd)) {
          joined(lRow, nullRight)
        } else {
          val k = lRow.getLong(lKeyOrd)
          val t = lRow.getLong(lTimeOrd)
          if (!havePrev || fPrevKey != k) {
            candidate = null
            fPrevKey = k
            havePrev = true
          }
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rRow = rBuf.head
            if (rRow.isNullAt(rKeyOrd)) { rBuf.next() }
            else {
              val rk = rRow.getLong(rKeyOrd)
              if (rk < k) { rBuf.next() }
              else if (rk == k) {
                if (rRow.isNullAt(rTimeOrd)) { rBuf.next() }
                else if (rRow.getLong(rTimeOrd) <= t) {
                  keepCandidate(rBuf.next())
                } else advancing = false
              } else advancing = false
            }
          }
          joined(lRow, if (candidate ne null) candidate else nullRight)
        }
      }

      val loop: InternalRow => InternalRow =
        if (fastPath) fastLoop else genericLoop
      lIter.map(l => project(loop(l)))
    }
  }

  // ── whole-stage codegen (VERDICT r4 next-round #6) ──────────────
  // The exec is a produce ROOT, like SortMergeJoinExec: it pulls both
  // (shuffled+sorted) children as plain iterators and generates the
  // unboxed merge loop directly into processNext(), fusing with every
  // downstream operator in the span — no iterator allocation, no
  // JoinedRow, no per-row virtual calls. Codegen is offered only on
  // the long-backed fast path; other key/time types take the
  // interpreted doExecute above.

  private def fastOrdinals: (Int, Int, Int, Int) = (
    longOrdinal(leftKey, left.output), longOrdinal(leftTime, left.output),
    longOrdinal(rightKey, right.output), longOrdinal(rightTime, right.output))

  override def supportCodegen: Boolean = {
    val (a, b, c, d) = fastOrdinals
    a >= 0 && b >= 0 && c >= 0 && d >= 0
  }

  // each consume()'d row aliases the mutable candidate buffer and the
  // current left row — downstream buffering needs a copy
  override def needCopyResult: Boolean = true

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  override protected def doProduce(ctx: CodegenContext): String = {
    val (lKeyOrd, lTimeOrd, rKeyOrd, rTimeOrd) = fastOrdinals
    val unsafeRowCls = "org.apache.spark.sql.catalyst.expressions.UnsafeRow"
    val leftInput = ctx.addMutableState("scala.collection.Iterator",
      "asofLeftInput", v => s"$v = inputs[0];")
    val rightInput = ctx.addMutableState("scala.collection.Iterator",
      "asofRightInput", v => s"$v = inputs[1];")
    // one-row lookahead on the right side (null = consumed)
    val rightRow = ctx.addMutableState("InternalRow", "asofRightRow")
    val cand = ctx.addMutableState("InternalRow", "asofCandidate")
    val candBuf = ctx.addMutableState(unsafeRowCls, "asofCandBuf")
    val prevKey = ctx.addMutableState("long", "asofPrevKey")
    val havePrev = ctx.addMutableState("boolean", "asofHavePrev")
    val leftRow = ctx.freshName("leftRow")
    val matched = ctx.freshName("matched")
    val k = ctx.freshName("k")
    val t = ctx.freshName("t")
    val rk = ctx.freshName("rk")
    val adv = ctx.freshName("advancing")

    ctx.currentVars = null
    ctx.INPUT_ROW = leftRow
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    ctx.INPUT_ROW = cand
    // right-side columns null-extend when no candidate matched; the
    // candidate read is guarded so it only runs when `matched`
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      val ev = BoundReference(i, a.dataType, nullable = true).genCode(ctx)
      val isNull = ctx.freshName("asofIsNull")
      val value = ctx.freshName("asofValue")
      val jt = CodeGenerator.javaType(a.dataType)
      val guarded =
        code"""
           |boolean $isNull = true;
           |$jt $value = ${CodeGenerator.defaultValue(a.dataType)};
           |if ($matched) {
           |  ${ev.code}
           |  $isNull = ${ev.isNull};
           |  $value = ${ev.value};
           |}
         """.stripMargin
      ExprCode(guarded, JavaCode.isNullVariable(isNull),
        JavaCode.variable(value, a.dataType))
    }
    val allVarsCode = (leftVars ++ rightVars).map(_.code.toString).mkString("\n")
    val outVars = (leftVars ++ rightVars).map(_.copy(code = org.apache.spark.sql.catalyst.expressions.codegen.EmptyBlock))

    s"""
       |while ($leftInput.hasNext()) {
       |  InternalRow $leftRow = (InternalRow) $leftInput.next();
       |  boolean $matched = false;
       |  if (!$leftRow.isNullAt($lKeyOrd) && !$leftRow.isNullAt($lTimeOrd)) {
       |    long $k = $leftRow.getLong($lKeyOrd);
       |    long $t = $leftRow.getLong($lTimeOrd);
       |    if (!$havePrev || $prevKey != $k) {
       |      $cand = null; $prevKey = $k; $havePrev = true;
       |    }
       |    boolean $adv = true;
       |    while ($adv) {
       |      if ($rightRow == null) {
       |        if (!$rightInput.hasNext()) break;
       |        $rightRow = (InternalRow) $rightInput.next();
       |      }
       |      if ($rightRow.isNullAt($rKeyOrd)) { $rightRow = null; continue; }
       |      long $rk = $rightRow.getLong($rKeyOrd);
       |      if ($rk < $k) { $rightRow = null; }
       |      else if ($rk == $k) {
       |        if ($rightRow.isNullAt($rTimeOrd)) { $rightRow = null; }
       |        else if ($rightRow.getLong($rTimeOrd) <= $t) {
       |          if ($rightRow instanceof $unsafeRowCls) {
       |            if ($candBuf == null) {
       |              $candBuf = (($unsafeRowCls) $rightRow).copy();
       |            } else {
       |              $candBuf.copyFrom(($unsafeRowCls) $rightRow);
       |            }
       |            $cand = $candBuf;
       |          } else {
       |            $cand = $rightRow.copy();
       |          }
       |          $rightRow = null;
       |        } else { $adv = false; }
       |      } else { $adv = false; }
       |    }
       |    $matched = ($cand != null);
       |  }
       |  $allVarsCode
       |  ${consume(ctx, outVars).trim}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {

  /** Idempotent runtime registration — works on driver-built sessions
    * (no builder access needed); `GraftExtensions` is the
    * SparkSessionExtensions route for builder-owned sessions. */
  def register(spark: SparkSession): Unit = {
    val strategies = spark.sessionState.experimentalMethods.extraStrategies
    if (!strategies.contains(AsOfStrategy)) {
      spark.sessionState.experimentalMethods.extraStrategies =
        strategies :+ AsOfStrategy
    }
  }

  /** left-outer as-of: each left row ↔ latest right row (same key,
    * rightTime <= leftTime, max tiebreak on time ties). Columns are
    * named (derived expressions: `withColumn` first) — in Spark 4 a
    * public Column wraps a lazily-resolved node that only becomes a
    * concrete Catalyst expression through analysis, so the node is
    * built from the analyzed children's attributes. Left and right
    * time columns must share a physical type.
    */
  def asof(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String, rightTie: String): DataFrame = {
    val spark = left.sparkSession
    register(spark)
    val lp = Bridge.analyzedPlan(left)
    val rp = Bridge.analyzedPlan(right)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"asof: column $n not in [${p.output.map(_.name).mkString(",")}]"))
    require(attr(lp, leftTime).dataType == attr(rp, rightTime).dataType,
      s"asof: time columns must share a type, got " +
        s"${attr(lp, leftTime).dataType} vs ${attr(rp, rightTime).dataType}")
    // no analyzer cast insertion happens on a custom node: mismatched
    // key types would hash-partition Int 5 and Long 5 to different
    // partitions and then ClassCastException in the merge ordering
    require(attr(lp, leftKey).dataType == attr(rp, rightKey).dataType,
      s"asof: key columns must share a type, got " +
        s"${attr(lp, leftKey).dataType} vs ${attr(rp, rightKey).dataType}")
    Bridge.ofRows(spark, AsOfJoinPlan(lp, rp,
      attr(lp, leftKey), attr(rp, rightKey),
      attr(lp, leftTime), attr(rp, rightTime), attr(rp, rightTie)))
  }
}

/** SparkSessionExtensions entry point: a session builder's
  * `withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfStrategy)
    e.injectOptimizerRule(_ => ToleranceJoinRule)
  }
}
