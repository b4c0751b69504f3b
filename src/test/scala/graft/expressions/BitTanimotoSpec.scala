package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.chem.{Formula, Smiles}

class BitTanimotoSpec extends AnyFunSuite {

  /** Shared test session + the same registration the
    * SparkSessionExtensions hook performs (the shared session already
    * exists, so the extension config can't be injected at build time
    * here — production sessions use
    * spark.sql.extensions=graft.GraftExtensions).
    */
  private lazy val spark: SparkSession = {
    val s = graft.SparkSuite.session
    s.sessionState.functionRegistry.registerFunction(
      new FunctionIdentifier("bit_tanimoto"),
      new ExpressionInfo(classOf[BitTanimoto].getName, "bit_tanimoto"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BitTanimoto(children(0), children(1)))
    s
  }

  test("extension hook applies cleanly") {
    new graft.GraftExtensions().apply(new SparkSessionExtensions)
  }

  test("kernel: identical, disjoint, subset, ragged lengths") {
    def bytes(xs: Int*) = xs.map(_.toByte).toArray
    assert(BitTanimoto.tanimoto(bytes(0xff), bytes(0xff)) === 1.0)
    assert(BitTanimoto.tanimoto(bytes(0xf0), bytes(0x0f)) === 0.0)
    assert(BitTanimoto.tanimoto(bytes(0x03), bytes(0x01)) === 0.5)
    // ragged: tail counts into the union only
    assert(BitTanimoto.tanimoto(bytes(0x01), bytes(0x01, 0x01)) === 0.5)
    assert(BitTanimoto.tanimoto(Array.empty[Byte], Array.empty[Byte]) === 0.0)
  }

  test("pack matches sparse-set semantics") {
    val p = BitTanimoto.pack(Array(0, 9, 511))
    assert((p(0) & 1) === 1 && ((p(1) >> 1) & 1) === 1 && ((p(63) >> 7) & 1) === 1)
    val a = Array(1, 5, 100); val b = Array(5, 100, 200)
    val expected = 2.0 / 4.0
    assert(BitTanimoto.tanimoto(BitTanimoto.pack(a), BitTanimoto.pack(b))
      === expected)
  }

  test("SQL function via SparkSessionExtensions, inside codegen") {
    import spark.implicits._
    val fps = Seq(
      ("CCO", "CCO"), ("CCO", "CCCCO"), ("CCO", "c1ccccc1"))
      .map { case (x, y) =>
        (BitTanimoto.pack(Formula.fingerprint(Smiles.parse(x))),
          BitTanimoto.pack(Formula.fingerprint(Smiles.parse(y))))
      }.toDF("a", "b")
    val out = fps.selectExpr("bit_tanimoto(a, b) as t").as[Double].collect()
    assert(out(0) === 1.0)
    assert(out(1) > 0.2 && out(1) < 1.0)
    assert(out(2) < out(1))
    // agrees with the set-based Tanimoto on the same fingerprints
    val setT = Formula.tanimoto(
      Formula.fingerprint(Smiles.parse("CCO")),
      Formula.fingerprint(Smiles.parse("CCCCO")))
    assert(math.abs(out(1) - setT) < 1e-12)
    // null-safe
    val withNull = fps.selectExpr("bit_tanimoto(a, cast(null as binary)) as t")
    assert(withNull.where(col("t").isNotNull).count() === 0)
  }
}
