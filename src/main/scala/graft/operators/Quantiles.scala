package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketch-based per-group quantile bucketing — the documented
  * memory-scale swap for the exact window path (q_text_quantile's
  * cume_dist over a per-lang sort): per-group cut points from ONE
  * aggregation of mergeable Greenwald-Khanna sketches
  * (`percentile_approx` — partial sketches combine map-side, so no
  * group ever needs its rows co-resident or sorted), broadcast back,
  * and bucket assignment by comparison in a projection.
  *
  * Cost shape at 100 TB: the exact path hash-shuffles and SORTS every
  * row of a group into one task's window (a hot language = half the
  * corpus on one task); this path's only shuffle is the k-groups
  * aggregation of constant-size sketch partials, and assignment is
  * embarrassingly parallel. The trade is exactness at bucket EDGES
  * only: a row within `1/accuracy` rank-fraction of a cut can land one
  * bucket off (GK guarantee); bucket membership away from edges is
  * exact. Ties across an edge follow value order (a tie-run lands in
  * ONE bucket — cume_dist puts a tie-run in one bucket too).
  *
  * Reference analog: the per-generation similarity-threshold sampling
  * windows (similarity_sampling.py) rank by score per generation; this
  * is the bounded-memory form of the same "keep the top X% per group"
  * shape.
  */
object Quantiles {

  /** Per-group GK-sketch cut points: (groupCol, __graft_cuts) with
    * buckets-1 interior quantile values per group — the broadcastable
    * table [[quantileBuckets]] joins against.
    */
  private def cutPoints(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      buckets: Int = 10,
      accuracy: Int = 10000): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    val ps = (1 until buckets).map(i => i / buckets.toDouble)
    df.where(col(valueCol).isNotNull)
      .groupBy(groupCol)
      .agg(expr(s"percentile_approx($valueCol, " +
        s"array(${ps.mkString(",")}), $accuracy)").as("__graft_cuts"))
  }

  /** Append a `bucket` column (0 .. buckets-1) to `df`: the value
    * column's per-`groupCol` quantile bucket. Rows with a null value
    * get a null bucket (they have no rank); a group too small to fill
    * every bucket uses the buckets its cut points define.
    *
    * The cut table is BROADCAST, so `groupCol` must be
    * low-cardinality (languages, generations, sources — the documented
    * uses); a high-cardinality group column makes the cut table itself
    * large and belongs in a plain shuffled join, not this operator.
    * The bucket comparison uses the Column-API `filter` lambda — no
    * SQL-string interpolation, so a value column named `c` (or one
    * needing backticks) resolves correctly.
    *
    * @param accuracy GK accuracy knob (rank error <= 1/accuracy); the
    *                 default 10000 bounds each sketch partial to a few
    *                 KB while placing edges within 0.01% rank
    */
  def quantileBuckets(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      buckets: Int = 10,
      accuracy: Int = 10000): DataFrame = {
    require(!df.columns.contains("__graft_cuts"),
      "quantileBuckets: input already has a __graft_cuts column")
    val cuts = cutPoints(df, groupCol, valueCol, buckets, accuracy)
    df.join(broadcast(cuts), Seq(groupCol), "left")
      .withColumn("bucket",
        when(col(valueCol).isNull, lit(null))
          .otherwise(size(filter(col("__graft_cuts"),
            c => c < col(valueCol)))))
      .drop("__graft_cuts")
  }

  /** EXACT global p-quantile (the k = ceil(p·n)-th smallest, 1-indexed)
    * of a long column WITHOUT a global sort — the third point on the
    * quantile ladder beside the exact per-group window
    * (q_text_quantile, needs a per-partition sort) and the GK sketch
    * ([[quantileBuckets]], approximate): two bucket-refinement passes.
    *
    * Pass 1 histograms values into ≤ `buckets` integer-width bins
    * (one map-side-combined aggregate) and finds the bin containing
    * rank k via a running sum over the TINY bin table; pass 2 repeats
    * the rank walk over the distinct VALUES of that single bin. Both
    * windows run over pre-aggregated smalls (≤ buckets rows / ≤ the
    * bin's distinct values), never the data. For a pathological bin
    * (all mass on few bins but many distinct values) recurse by
    * calling again on the bin's rows; the uniform-ish case — and any
    * integer-grid column — finishes in these two passes.
    *
    * Returns ONE row: (value) — the exact k-th smallest.
    */
  def exactQuantile(
      values: DataFrame, valueCol: String,
      pNum: Long, pDen: Long, buckets: Int = 65536): DataFrame = {
    require(pNum >= 1 && pNum <= pDen,
      s"exactQuantile: p = $pNum/$pDen must be in (0, 1]")
    val v = values.select(col(valueCol).as("v"))
    val st = v.agg(count(lit(1)).as("n"), min("v").as("mn"),
      max("v").as("mx"))
    val withB = v.crossJoin(broadcast(st))
      .withColumn("k", expr(s"($pNum * n + $pDen - 1) div $pDen"))
      .withColumn("w",
        expr(s"greatest(1L, (mx - mn) div ${buckets}L + 1L)"))
      .withColumn("b", expr("(v - mn) div w"))
    val binCounts = withB.groupBy("b").agg(count(lit(1)).as("c"),
      first("k").as("k"), first("mn").as("mn"), first("w").as("w"))
    val wb = org.apache.spark.sql.expressions.Window.orderBy("b")
    val target = binCounts.withColumn("cum", sum("c").over(wb))
      .where(col("cum") >= col("k") &&
        col("cum") - col("c") < col("k"))
      .select(col("b").as("tb"),
        (col("k") - (col("cum") - col("c"))).as("kin"),
        col("mn"), col("w"))
    val inBin = v.crossJoin(broadcast(target))
      .where(expr("(v - mn) div w") === col("tb"))
    val wv = org.apache.spark.sql.expressions.Window.orderBy("v")
    inBin.groupBy("v").agg(count(lit(1)).as("c"),
        first("kin").as("kin"))
      .withColumn("cum", sum("c").over(wv))
      .where(col("cum") >= col("kin") &&
        col("cum") - col("c") < col("kin"))
      .select(col("v").as("value"))
  }
}
