package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Fused overlap count of two SORTED, DUPLICATE-FREE bigint arrays —
  * the codegen'd form of `size(array_intersect(a, b))` for callers
  * that already hold `array_sort(array_distinct(...))` fingerprints.
  *
  * `array_intersect` builds a hash set over one side PER ROW (boxed
  * longs, an OpenHashSet allocation per call) — at ~10⁶ candidate
  * pairs per verify join that allocation dominated the stage (the
  * q_text_containment verify stage measured ~0.9 s/task of almost
  * pure array_intersect). This is one branch-free-ish merge walk over
  * the two primitive arrays: zero allocation, same count.
  *
  * BIT-IDENTICAL to `size(array_intersect(a, b))` ONLY under the
  * callers' invariant (both inputs ascending and duplicate-free, no
  * null elements — true of every `array_sort(array_distinct(hash))`
  * fingerprint relation); order and uniqueness are the caller's to
  * uphold, they are not checked. Arrays whose type admits null elements
  * are rejected at analysis. Null input propagates to SQL NULL exactly
  * like the size(array_intersect) form with default (non-legacy)
  * sizeOfNull.
  *
  * Registered as `graft_sorted_overlap(a, b)` by [[Hash64.register]].
  */
final case class SortedOverlap(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_overlap"

  private val wantType = ArrayType(LongType, containsNull = false)
  // element nulls would read as 0 in the merge walk: only arrays that
  // cannot hold them are accepted
  private def ok(t: DataType): Boolean = t == wantType

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two array<bigint> arguments, got " +
        s"${left.dataType} and ${right.dataType}; want $wantType")

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedOverlap.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.SortedOverlap.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedOverlap {

  /** Merge walk over two ascending duplicate-free long arrays. */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }
}
