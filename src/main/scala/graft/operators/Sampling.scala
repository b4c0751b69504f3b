package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Weighted sampling without replacement (the reference's
  * SimilaritySamplingFilter draw, /root/reference/minedatabase/filters/
  * similarity.py:217-356, SURVEY §2.7 D8), made distributed and
  * deterministic.
  *
  * Uses the exponential-clocks (Gumbel-trick) formulation: drawing the k
  * items minimizing `-ln(u_i)/w_i` with `u_i ~ U(0,1]` is equivalent to
  * sequential weighted sampling without replacement — one scan plus a
  * global top-k (`orderBy(...).limit(k)`, which Spark executes as a
  * per-partition partial top-k, no full sort shuffle).
  *
  * Instead of `rand()` (non-reproducible across retries/partitionings) the
  * uniform draw is a pure hash of the row key: md5-based, so runs are
  * reproducible anywhere and oracle-checkable in any engine with md5.
  */
object Sampling {

  /** Deterministic U(0,1] from a key column: first 8 md5 hex chars → 32-bit
    * int `h`, mapped to `(h+1)/2^32`.
    */
  def detU01(key: Column, salt: String = ""): Column =
    (conv(substring(md5(concat(key.cast("string"), lit(salt))), 1, 8), 16, 10)
      .cast("double") + 1.0) / 4294967296.0

  /** Exponential sort key `-ln(u)/w`; smallest k keys = the sample. */
  def exponentialKey(weight: Column, key: Column, salt: String = ""): Column =
    -log(detU01(key, salt)) / weight

  /** Sample `n` rows without replacement with probability proportional to
    * `weightCol` (must be > 0). Deterministic given `keyCol` and `salt`.
    */
  def weightedSample(
      df: DataFrame,
      weightCol: Column,
      keyCol: Column,
      n: Int,
      salt: String = ""): DataFrame =
    df.withColumn("__ek", exponentialKey(weightCol, keyCol, salt))
      .orderBy("__ek")
      .limit(n)
      .drop("__ek")

  /** Per-stratum weighted sample without replacement: `nPerGroup` rows
    * from EVERY group (fewer if the group is smaller) with probability
    * proportional to `weightCol` within the group — the quota-ed twin
    * of [[weightedSample]] (a global draw over skewed strata starves
    * the small ones; stratified pipelines want exact per-stratum
    * quotas). Same deterministic exponential clocks, ranked by ONE
    * hash-partitioned window per stratum (no global sort, no
    * collect); ties break on the row key for full determinism.
    */
  def stratifiedSample(
      df: DataFrame,
      groupCol: Column,
      weightCol: Column,
      keyCol: Column,
      nPerGroup: Int,
      salt: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__ek", exponentialKey(weightCol, keyCol, salt))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(groupCol).orderBy(col("__ek"), keyCol)))
      .where(col("__rk") <= nPerGroup)
      .drop("__ek", "__rk")
  }
}
