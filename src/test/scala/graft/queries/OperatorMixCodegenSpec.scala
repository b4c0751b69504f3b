package graft.queries

import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkSuite

/** The operator layer's benchmark mix (q_itemsets, q_agg_hll_setops,
  * q_join_salted, q_text_tfidf, each timed by `count()`) fits Spark's
  * codegen cache and generates the same classes on every run: a second
  * and a third run of the mix compile nothing. A mix whose classes
  * overflow one of the cache's four 25-entry segments recompiles them on
  * every run, and a plan whose stage numbering follows the order in
  * which its branches finish compiles a renumbered class whenever that
  * order changes.
  */
class OperatorMixCodegenSpec extends SparkSuite {

  private val mix =
    Seq("q_itemsets", "q_agg_hll_setops", "q_join_salted", "q_text_tfidf")

  /** One run of the mix; returns the rows per query and the compiles. */
  private def run(): (Seq[Long], Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val rows = mix.map(q => graft.SparkEntry.queries(q)(spark, sf).count())
    (rows, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  test("runs 2 and 3 of the operator mix compile no class") {
    val (rows1, _) = run()
    val (rows2, compiles2) = run()
    val (rows3, compiles3) = run()
    assert(rows1.forall(_ > 0))
    assert(rows2 === rows1 && rows3 === rows1)
    assert(compiles2 === 0L, "run 2")
    assert(compiles3 === 0L, "run 3")
  }
}
