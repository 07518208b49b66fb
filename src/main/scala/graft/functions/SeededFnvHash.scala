package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Seeded 64-bit FNV-1a hash over a string column — the k-seeded hash
  * family behind MinHash (SURVEY.md §2.11 op 74 / §4.3).
  *
  * Spark's built-in `xxhash64` pins seed=42, which makes k independent
  * MinHash permutations impossible without k wrapper UDFs; a native
  * Catalyst `Expression` keeps the hash inside whole-stage codegen
  * (no Scala-closure UDF serialization, no boxing in the hot loop) —
  * at 100 TB the shingle→hash step dominates near-dedup cost.
  *
  * Algorithm: FNV-1a 64-bit over UTF-8 bytes, with the seed folded
  * into the offset basis via a golden-ratio multiply so different
  * seeds realize effectively independent hash functions. SQL form
  * `graft_seeded_hash(str, seed)`, registered with the other kernels
  * by [[VectorKernels.register]].
  */
case class SeededFnvHash(child: Expression, seed: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_seeded_hash requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_seeded_hash"

  override def nullSafeEval(input: Any): Any =
    SeededFnvHash.hashUtf8(input.asInstanceOf[UTF8String], seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SeededFnvHash.hashUtf8($c, ${seed}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SeededFnvHash {
  private val OffsetBasis = 0xcbf29ce484222325L
  private val Prime = 0x100000001b3L
  private val GoldenGamma = 0x9e3779b97f4a7c15L

  /** Static entry point shared by interpreted eval and codegen. */
  def hashUtf8(s: UTF8String, seed: Long): Long = {
    val bytes = s.getBytes
    var h = OffsetBasis ^ (seed * GoldenGamma)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= Prime
      i += 1
    }
    h
  }
}
