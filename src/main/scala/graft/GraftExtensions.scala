package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Catalyst extension entry point — the production wiring for the
  * library's SQL-named functions:
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * injects `graft_hash64` (the fused 60-bit md5 hash,
  * [[graft.expressions.Hash64]]), `graft_nfc`, the fused shingle
  * kernels, `bit_tanimoto` and `vec_dot` into every session built from
  * that config, including sessions the library never touches — thriftserver
  * SQL clients, notebook sessions, structured-streaming jobs. The
  * imperative `Hash64.register(spark)` stays for sessions created
  * without the config (Tables.load and the DataFrame-bearing operator
  * entry points call it; it writes only names the session does not
  * resolve yet); both routes build the identical expression.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // opt-in non-equi interval-join rewrite (fires only when
    // spark.graft.rangejoin.bucketWidth is set): the RangeJoin
    // bucketed-equi rewrite as a transparent optimizer rule —
    // plain SQL/DataFrame interval joins plan as hash joins
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    ext.injectFunction((
      FunctionIdentifier("graft_hash64"),
      new ExpressionInfo(
        classOf[graft.expressions.Hash64].getName, "graft_hash64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 1,
          s"graft_hash64 takes 1 argument, got ${exprs.length}")
        graft.expressions.Hash64(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(
        classOf[graft.expressions.NfcNormalize].getName, "graft_nfc"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 1,
          s"graft_nfc takes 1 argument, got ${exprs.length}")
        graft.expressions.NfcNormalize(exprs.head)
      }))
    // the fused shingle kernels (TextOps.charFingerprints /
    // winnowCompiled emit these names) — an extension-wired session
    // must resolve them without any library entry-point call
    def intLit(
        e: org.apache.spark.sql.catalyst.expressions.Expression,
        what: String): Int = {
      require(e.foldable, s"$what must be a literal")
      e.eval().asInstanceOf[Number].intValue()
    }
    ext.injectFunction((
      FunctionIdentifier("graft_char_fps"),
      new ExpressionInfo(
        classOf[graft.expressions.CharFps].getName, "graft_char_fps"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 3,
          s"graft_char_fps takes (text, w, step), got ${exprs.length}")
        graft.expressions.CharFps(exprs.head,
          intLit(exprs(1), "w"), intLit(exprs(2), "step"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(
        classOf[graft.expressions.WinnowFps].getName, "graft_winnow"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 3,
          s"graft_winnow takes (text, k, t), got ${exprs.length}")
        graft.expressions.WinnowFps(exprs.head,
          intLit(exprs(1), "k"), intLit(exprs(2), "t"))
      }))
    graft.expressions.BitTanimoto.register(ext)
    graft.expressions.VecDot.register(ext)
  }
}
