package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a codegen'd Catalyst expression — the
  * canonical-composition pass a text corpus runs before ANY
  * byte-keyed operator: exact dedup, minhash shingles, winnowing
  * fingerprints, and token counts all key on bytes, so "é" as U+00E9
  * and "é" as e+U+0301 silently split what is one logical document.
  * Spark ships no normalization builtin (the usual fallback is a Scala
  * UDF — interpreted, per-row boxing); this stays inside whole-stage
  * codegen like the rest of the scrub chain.
  *
  * The kernel is `java.text.Normalizer` (ICU-equivalent for NFC on the
  * BMP sequences real corpora contain); DuckDB exposes the same
  * normalization as `nfc_normalize`, which is what the q_text_normalize
  * oracle runs — byte-parity across engines is exactly the property the
  * gate pins. A fast path skips allocation entirely for pure-ASCII
  * input (the overwhelmingly common case at corpus scale): ASCII is
  * closed under NFC, so the input UTF8String is returned as-is.
  */
final case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.NfcNormalize.compute($c)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object NfcNormalize {

  def compute(s: UTF8String): UTF8String = {
    // ASCII fast path: NFC is the identity on ASCII; skip the String
    // round-trip and return the input buffer untouched
    val n = s.numBytes()
    val ascii = {
      var i = 0
      var ok = true
      while (ok && i < n) {
        if ((s.getByte(i) & 0x80) != 0) ok = false
        i += 1
      }
      ok
    }
    if (ascii) s
    else {
      val str = s.toString
      if (java.text.Normalizer.isNormalized(
          str, java.text.Normalizer.Form.NFC)) s
      else UTF8String.fromString(java.text.Normalizer.normalize(
        str, java.text.Normalizer.Form.NFC))
    }
  }

  /** Idempotently register `graft_nfc` (same contract as
    * [[Hash64.register]]).
    */
  def register(spark: SparkSession): Unit =
    SqlFunctions.registerOnce(spark, "graft_nfc")
}
