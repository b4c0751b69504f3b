package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Catalyst extension entry point — the production wiring for the
  * library's SQL-named functions:
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * injects every function of [[graft.expressions.SqlFunctions]]
  * (`graft_hash64`, `graft_nfc`, the fused shingle kernels,
  * `graft_sorted_overlap`, `bit_tanimoto` and `vec_dot`) into every
  * session built from that config, including sessions the library never
  * touches — thriftserver SQL clients, notebook sessions,
  * structured-streaming jobs. The imperative `Hash64.register(spark)`
  * stays for sessions created without the config (Tables.load and the
  * DataFrame-bearing operator entry points call it; it writes only names
  * the session does not resolve yet); both routes read the same table.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // opt-in non-equi interval-join rewrite (fires only when
    // spark.graft.rangejoin.bucketWidth is set): the RangeJoin
    // bucketed-equi rewrite as a transparent optimizer rule —
    // plain SQL/DataFrame interval joins plan as hash joins
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    graft.expressions.SqlFunctions.all.foreach(ext.injectFunction)
  }
}
