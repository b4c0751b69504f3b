package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval (non-equi) join: `facts.value ∈ (ranges.lo, ranges.hi)`,
  * exclusive bounds — the mass/adduct window search shape of the reference
  * (/root/reference/minedatabase/metabolomics.py:211-236, SURVEY §2.4 J6).
  *
  * Naively Spark plans this as a BroadcastNestedLoopJoin: every fact row is
  * tested against every range. Fine for ≤10⁴ ranges, quadratic at scale.
  * `intervalJoin` instead buckets both sides by `floor(x / bucketWidth)` and
  * equi-joins on the bucket key before applying the exact range predicate:
  * each range expands to `ceil(width/bucketWidth)+1` bucket rows, each fact
  * to one, so the join is a plain shuffled/broadcast hash join that scales
  * linearly and survives a 100× fact-side scale-up.
  *
  * `bucketWidth` should be ≥ the typical range width (each range then lands
  * in ≤2 buckets).
  */
object RangeJoin {

  /** @param inclusive exclusive `(lo, hi)` when false (default); the
    *                   reference's mass windows are INCLUSIVE `[lo, hi]`
    *                   ($gte/$lte, metabolomics.py:226-227)
    */
  def intervalJoin(
      facts: DataFrame,
      ranges: DataFrame,
      valueCol: String,
      loCol: String,
      hiCol: String,
      bucketWidth: Double,
      inclusive: Boolean = false): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val b = lit(bucketWidth)
    val first = floor(col(loCol) / b).cast("long")
    val last = floor(col(hiCol) / b).cast("long")
    // each range lists its buckets and then its last bucket once more,
    // as a copy whose lower bound is +∞, so it matches no (finite) value.
    // So no bucket key is unique on the ranges side, whatever the
    // ranges: Spark generates a broadcast hash join's code for unique or
    // repeated build keys from the broadcast data, and without the copy
    // two requests whose windows happen to share a bucket or not compile
    // two classes for one plan. The copy is told apart inside the
    // predicate, which reads both sides, so no filter pushed below the
    // join can remove it
    val rb = ranges.select(col("*"),
        posexplode(concat(sequence(first, last), array(last)))
          .as(Seq("__bucket_pos", "__bucket")))
      .withColumn("__lo", when(col("__bucket_pos") > last - first,
        lit(Double.PositiveInfinity)).otherwise(col(loCol)))
    val fb = facts.withColumn("__bucket", floor(col(valueCol) / b).cast("long"))
    val pred =
      if (inclusive) col(valueCol) >= col("__lo") && col(valueCol) <= col(hiCol)
      else col(valueCol) > col("__lo") && col(valueCol) < col(hiCol)
    fb.join(rb, Seq("__bucket"))
      .where(pred)
      .drop("__bucket", "__bucket_pos", "__lo")
  }

  /** INTERVAL × INTERVAL overlap join: `[aLo, aHi] ∩ [bLo, bHi] ≠ ∅`
    * (inclusive bounds) — the temporal-overlap shape (validity windows
    * × promo windows, session spans × incident spans) that the
    * point-in-interval [[intervalJoin]] cannot express.
    *
    * Both sides explode into their covering buckets and equi-join on
    * the bucket key; a candidate pair can share SEVERAL buckets, so
    * the exact predicate is paired with the CANONICAL-BUCKET rule —
    * the pair is kept only in the bucket containing the overlap's
    * START, `floor(max(aLo, bLo) / w)` — which every overlapping pair
    * matches in exactly once. No distinct, no dedup shuffle; the
    * result multiset equals the naive inequality join row for row.
    *
    * `bucketWidth` ≥ the typical interval width keeps the explode
    * factor ≤ 2 per side.
    */
  def intervalOverlapJoin(
      left: DataFrame,
      right: DataFrame,
      aLoCol: String, aHiCol: String,
      bLoCol: String, bHiCol: String,
      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val b = lit(bucketWidth)
    def buckets(df: DataFrame, lo: String, hi: String) =
      df.withColumn("__bucket", explode(sequence(
        floor(col(lo) / b).cast("long"),
        floor(col(hi) / b).cast("long"))))
    buckets(left, aLoCol, aHiCol)
      .join(buckets(right, bLoCol, bHiCol), Seq("__bucket"))
      .where(col(aLoCol) <= col(bHiCol) && col(bLoCol) <= col(aHiCol) &&
        col("__bucket") ===
          floor(greatest(col(aLoCol), col(bLoCol)) / b).cast("long"))
      .drop("__bucket")
  }
}
