package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** Native codegen'd Tanimoto over PACKED fingerprints (BinaryType):
  * popcount(a AND b) / popcount(a OR b).
  *
  * SURVEY §4's one justified custom Catalyst Expression: fingerprint
  * similarity is the expansion filter's hot loop (reference computes
  * Tanimoto per frontier compound per target per generation,
  * similarity.py:478-501). A packed-bitset AND/OR with Long.bitCount
  * inside whole-stage codegen beats array-of-int intersection by ~64x
  * per word and allocates nothing. Null-safe (null in -> null out); a
  * length mismatch yields 0.0 over the common prefix words + tail of
  * the longer side counted into the union.
  */
final case class BitTanimoto(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "bit_tanimoto"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (binary, binary), got " +
          s"(${left.dataType}, ${right.dataType})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    BitTanimoto.tanimoto(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.BitTanimoto.tanimoto($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BitTanimoto {

  /** Static kernel shared by interpreted eval and generated code. */
  def tanimoto(a: Array[Byte], b: Array[Byte]): Double = {
    var inter = 0; var union = 0
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      inter += java.lang.Integer.bitCount(a(i) & b(i) & 0xff)
      union += java.lang.Integer.bitCount((a(i) | b(i)) & 0xff)
      i += 1
    }
    while (i < a.length) {
      union += java.lang.Integer.bitCount(a(i) & 0xff); i += 1
    }
    var j = n
    while (j < b.length) {
      union += java.lang.Integer.bitCount(b(j) & 0xff); j += 1
    }
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Pack sparse bit indexes (the reference's RDKit_fp storage,
    * databases.py:544-548) into a fixed-width byte array. Width MUST
    * match the fingerprint's bit space (Formula.fingerprint default
    * 2048) — a narrower width folds indexes together and inflates every
    * downstream Tanimoto.
    */
  /** Byte width of the current pack format (2048-bit space). */
  val packedBytes: Int = 2048 / 8

  def pack(bits: Array[Int], nBits: Int = 2048): Array[Byte] = {
    val out = new Array[Byte]((nBits + 7) / 8)
    bits.foreach { bit =>
      val idx = math.floorMod(bit, nBits)
      out(idx >> 3) = (out(idx >> 3) | (1 << (idx & 7))).toByte
    }
    out
  }
}
