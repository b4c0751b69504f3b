package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd integer dot product over quantized embedding
  * vectors (`array<bigint>` x `array<bigint>` -> `bigint`).
  *
  * The similarity pack (SimilarityQueries, VectorOps) runs every
  * candidate pair through an exact integer dot product; as an array
  * higher-order expression (`aggregate(zip_with(...))`) each evaluation
  * walks two lambda interpreters per element. This expression is the
  * same exact arithmetic as a tight JVM loop inside whole-stage codegen
  * — bit-identical results (64-bit integer math is associative here;
  * same iteration order), so every DuckDB oracle is unchanged.
  *
  * Null-safe: null array in -> null out. Mismatched lengths multiply
  * the common prefix (embedding dims are uniform in practice; the HOF
  * form zip_with-padded with null and returned null — lengths never
  * mismatch in the query surface, both behaviors are out-of-contract).
  * Null ELEMENTS are treated as 0 (quantize never emits them).
  */
final case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "vec_dot"

  private def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (array<bigint>, array<bigint>), got " +
          s"(${left.dataType}, ${right.dataType})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.VecDot.dot($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VecDot {

  /** Static kernel shared by interpreted eval and generated code.
    * For UnsafeArrayData the value region of a null slot reads as 0,
    * so null elements contribute nothing either way.
    */
  def dot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  /** Registry builder: clean analysis-time arity error instead of an
    * IndexOutOfBounds (or silently dropped extras) from raw indexing.
    */
  private[expressions] val builder: Seq[Expression] => Expression = {
    children =>
      if (children.size != 2)
        throw org.apache.spark.sql.graftbridge.ColumnBridge
          .wrongNumArgs("vec_dot", 2, children.size)
      VecDot(children(0), children(1))
  }

  /** Idempotently register `vec_dot` in a live session's function
    * registry — for sessions built without the extensions conf (the
    * driver contract's Verify/Bench sessions, test sessions).
    */
  def ensureRegistered(s: org.apache.spark.sql.SparkSession): Unit =
    SqlFunctions.registerOnce(s, "vec_dot")
}
