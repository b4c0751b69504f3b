package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental corpus deduplication: keep the rows of a NEW shard whose
  * key does not appear in a PRIOR corpus — the shape every rolling
  * training-data ingest runs ("drop what we already have" against
  * billions of previously ingested documents).
  *
  * Exact semantics are a plain left-anti join on the key. What makes it
  * scale is the Bloom prefilter: the prior side folds into a bounded
  * Bloom filter (mergeable partial aggregate, one pass, no shuffle),
  * broadcast to the shard side. Bloom filters have NO false negatives,
  * so a "not present" answer is definitive — those rows are emitted
  * without touching the join. Only the Bloom-positive minority (true
  * dups + fpp·|new|) is confirmed by the exact anti-join, so the
  * shuffle carries the candidate sliver instead of the whole shard.
  * The result is therefore EXACT for any fpp; fpp only tunes how many
  * definitely-new rows pay the join. This mirrors Spark's own runtime
  * row-level bloom pruning (InjectRuntimeFilter), applied explicitly so
  * the no-false-negative fast path can BYPASS the shuffle rather than
  * merely pre-filter it.
  *
  * Reference cousin: the dedup-merge of newly generated compounds
  * against the existing network keyed by content hash
  * (pickaxe.py:579-615); there the prior side is a Mongo `_id` lookup,
  * here it is a corpus-scale anti-join.
  *
  * 100 TB contract: the Bloom size is bounded by `expectedPriorItems`
  * and `fpp` (~1.2 bytes/item at 1%), independent of the shard size —
  * the caller sizes it for driver+executor memory (1e9 prior docs @ 1%
  * ≈ 1.1 GiB; shard the PRIOR corpus and union the results if it must
  * grow past that). The shard is scanned twice (flag pass + candidate
  * pass); at scale that is two cheap pruned parquet scans traded
  * against shuffling the full shard through the anti-join.
  */
object IncrementalDedup {

  /** Rows of `shard` whose `key` (a string-typed expression evaluable
    * on BOTH inputs) appears nowhere in `prior`. Column-equal to
    * `shard.join(prior-keys, anti)` for every fpp.
    *
    * STREAMING-TRANSPARENT: `shard` may be a streaming DataFrame with a
    * static `prior` — every action here (emptiness probe, Bloom build)
    * runs on the prior side only, and the shard-side plan is a
    * stateless filter/union plus a stream-static left-anti join, all
    * supported in micro-batch mode. StreamingSpec pins batch parity.
    */
  def newRows(
      shard: DataFrame,
      prior: DataFrame,
      key: Column,
      expectedPriorItems: Long,
      fpp: Double = 0.01): DataFrame = {
    val keyed = shard.withColumn("__ik", key)
    val priorKeys = prior.select(key.as("__ik"))
      // null prior keys match nothing under anti-join semantics, and
      // Spark 4's bloomFilter agg NPEs on an all-null/empty input —
      // drop them before sketching
      .where(col("__ik").isNotNull)
    // degenerate first ingest: no prior keys → everything is new
    // (one limit-1 probe job, far cheaper than the sketch pass it skips)
    if (priorKeys.isEmpty) return shard
    val bloom = priorKeys.stat.bloomFilter(
      "__ik", math.max(expectedPriorItems, 1L), fpp)
    // codegen'd membership probe (graft.expressions.BloomMightContain)
    // instead of a Scala UDF: the check runs once per shard row, and
    // the expression stays inside whole-stage codegen with zero
    // per-row object conversion
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val maybePrior = ColumnBridge.column(
      graft.expressions.BloomMightContain(
        ColumnBridge.expression(col("__ik")), bytes))
    val definitelyNew = keyed.where(!maybePrior)
    val confirmedNew = keyed.where(maybePrior)
      .join(priorKeys.distinct(), Seq("__ik"), "left_anti")
    definitelyNew.unionByName(confirmedNew).drop("__ik")
  }
}
