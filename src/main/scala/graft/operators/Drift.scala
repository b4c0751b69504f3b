package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift monitoring between a REFERENCE slice (the
  * baseline a model/pipeline was validated on) and a CURRENT slice
  * (what is arriving now) — the population-stability check every
  * production scoring pipeline runs before trusting new data:
  * PSI (population stability index, the credit-scoring standard),
  * KL(current‖reference), and a grid-resolution Kolmogorov–Smirnov
  * statistic, all over ONE frozen equi-width grid.
  *
  * Scale shape: each side collapses to ≤ `bins` rows in one map-side-
  * combined aggregate; everything after (full-outer bin align, totals,
  * cumulative CDFs, the final reduce) runs on bin-sized smalls — the
  * only window is over the pre-aggregated ≤bins rows. The grid (mn,
  * mx, bins) is a FROZEN design constant like the histogram family's:
  * out-of-grid values clamp into the edge bins, so the same code
  * monitors any vintage of the feed without re-deriving geometry.
  *
  * Numerics: bin counts and cumulative counts are exact longs; the KS
  * gap maximization is cross-multiplied INTEGER arithmetic
  * (max |C_cur·N_ref − C_ref·N_cur|), so the argmax is exact and only
  * the final three scalars divide/log in doubles (rounded 4dp, the
  * repo's float-output convention). PSI/KL probabilities are Laplace-
  * smoothed (add-1 per bin) so empty bins never produce ±∞ terms —
  * p = (c+1)/(N+bins) on both sides, summed over a FULL bin spine
  * (every grid bin is materialized, not just the observed ones), so
  * the smoothed p and q each sum to exactly 1: this is the textbook
  * Laplace-smoothed PSI/KL, independent of which bins happened to be
  * non-empty.
  */
object Drift {

  /** Clamped equi-width bin for a long value column (same integer-div
    * grid as the histogram family). `valueCol` is a column name (or
    * any SQL expression yielding a long).
    */
  def bin(valueCol: String, mn: Long, mx: Long, bins: Int): Column =
    greatest(lit(0L), least(lit(bins - 1L),
      expr(s"((($valueCol) - ${mn}L) * ${bins}L) div " +
        s"(${mx}L - ${mn}L + 1L)")))

  /** Per-side bin-count table (bin, n) for a slice: one aggregate. */
  private def binCounts(
      df: DataFrame, valueCol: String, mn: Long, mx: Long,
      bins: Int): DataFrame =
    df.select(bin(valueCol, mn, mx, bins).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))

  /** Drift report from two bin-count tables (bin, n) — the kernel
    * behind [[binnedDrift]]. One row:
    * (n_ref, n_cur, psi, kl, ks, drifted) with
    * psi = Σ (q−p)·ln(q/p), kl = Σ q·ln(q/p), ks = max |Q(b) − P(b)|
    * over grid-edge CDFs, drifted = psi ≥ `psiThreshold` (0.2 is the
    * conventional "significant shift" bar).
    */
  private def reportFromBins(
      refBins: DataFrame, curBins: DataFrame, bins: Int,
      psiThreshold: Double = 0.2): DataFrame = {
    // full bin spine: every grid bin exists in the aligned table, so
    // the Laplace-smoothed p/q sum to exactly 1 regardless of which
    // bins were observed (bins rows — driver-trivial, never a shuffle
    // concern)
    val spine = refBins.sparkSession.range(bins.toLong)
      .select(col("id").as("bin"))
    val aligned = spine
      .join(broadcast(refBins.withColumnRenamed("n", "n_ref_b")),
        Seq("bin"), "left")
      .join(broadcast(curBins.withColumnRenamed("n", "n_cur_b")),
        Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_ref_b"), lit(0L)).as("nr"),
        coalesce(col("n_cur_b"), lit(0L)).as("nc"))
    val totals = aligned.agg(
      sum("nr").as("n_ref"), sum("nc").as("n_cur"))
    // ≤bins rows from here on: broadcast the 1-row totals, window over
    // the pre-aggregated smalls only
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val terms = aligned.join(broadcast(totals))
      .withColumn("p",
        (col("nr") + 1.0) / (col("n_ref") + lit(bins.toDouble)))
      .withColumn("q",
        (col("nc") + 1.0) / (col("n_cur") + lit(bins.toDouble)))
      .withColumn("psi_term",
        (col("q") - col("p")) * log(col("q") / col("p")))
      .withColumn("kl_term", col("q") * log(col("q") / col("p")))
      // integer cross-multiplied CDF gap: exact argmax, one division
      // at the end
      .withColumn("cum_r", sum("nr").over(w))
      .withColumn("cum_c", sum("nc").over(w))
      .withColumn("gap",
        abs(col("cum_c") * col("n_ref") - col("cum_r") * col("n_cur")))
    terms.groupBy("n_ref", "n_cur")
      .agg(
        round(sum("psi_term"), 4).as("psi"),
        round(sum("kl_term"), 4).as("kl"),
        round(max("gap") /
          (col("n_ref").cast("double") * col("n_cur").cast("double")),
          4).as("ks"))
      .withColumn("drifted", col("psi") >= psiThreshold)
      .select("n_ref", "n_cur", "psi", "kl", "ks", "drifted")
  }

  /** Batch drift between two slices over the frozen grid. */
  def binnedDrift(
      ref: DataFrame, cur: DataFrame, valueCol: String,
      mn: Long, mx: Long, bins: Int = 20,
      psiThreshold: Double = 0.2): DataFrame = {
    require(bins >= 2 && mx > mn, "binnedDrift: degenerate grid")
    reportFromBins(
      binCounts(ref, valueCol, mn, mx, bins),
      binCounts(cur, valueCol, mn, mx, bins),
      bins, psiThreshold)
  }
}
