package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The library's SQL-named functions, one (name, info, builder) row
  * each. [[graft.GraftExtensions]] injects every row into a session
  * built with `spark.sql.extensions=graft.GraftExtensions`;
  * [[registerOnce]] writes rows into a live session built without it
  * (`Hash64.register`, `NfcNormalize.register`, `VecDot.ensureRegistered`).
  * Both routes read this table, so they build the same expressions.
  */
object SqlFunctions {

  type Row = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_], args: String, arity: Int)(
      build: Seq[Expression] => Expression): Row =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      { (exprs: Seq[Expression]) =>
        require(exprs.length == arity,
          s"$name takes $args, got ${exprs.length}")
        build(exprs)
      })

  private def intLit(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  val all: Seq[Row] = Seq(
    fn("graft_hash64", classOf[Hash64], "1 argument", 1)(e => Hash64(e.head)),
    fn("graft_nfc", classOf[NfcNormalize], "1 argument", 1)(e =>
      NfcNormalize(e.head)),
    // the fused shingle kernels (TextOps.charFingerprints / winnowCompiled
    // emit these names)
    fn("graft_char_fps", classOf[CharFps], "(text, w, step)", 3)(e =>
      CharFps(e.head, intLit(e(1), "w"), intLit(e(2), "step"))),
    fn("graft_winnow", classOf[WinnowFps], "(text, k, t)", 3)(e =>
      WinnowFps(e.head, intLit(e(1), "k"), intLit(e(2), "t"))),
    fn("graft_sorted_overlap", classOf[SortedOverlap], "(a, b)", 2)(e =>
      SortedOverlap(e(0), e(1))),
    fn("bit_tanimoto", classOf[BitTanimoto], "(a, b)", 2)(e =>
      BitTanimoto(e(0), e(1))),
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"), VecDot.builder))

  /** Writes the rows named `names` into `spark`'s function registry,
    * each only when the session does not resolve it yet (an earlier
    * call, or the extension), so repeat calls are lookups.
    */
  def registerOnce(spark: SparkSession, names: String*): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) =>
      if (names.contains(id.funcName) && !registry.functionExists(id))
        registry.registerFunction(id, info, builder)
    }
  }
}
