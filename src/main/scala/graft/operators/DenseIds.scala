package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{monotonically_increasing_id,
  shiftleft, spark_partition_id, typedLit}
import org.apache.spark.sql.types.LongType

/** Distributed dense rank 1..n in a total order — the scale-safe
  * replacement for `row_number() over (order by ...)`, which plans a
  * single-task global sort (every row through ONE window task: the W1
  * anti-pattern on a 100 TB table). Shape (same family as
  * [[PrefixSum]]):
  *
  *  1. range-partition by the order columns — globally sorted ACROSS
  *     partitions — sort within, freeze the layout with a
  *     localCheckpoint so both passes see identical partitions;
  *  2. count rows per partition (a partition-count-sized collect —
  *     bytes, regardless of table size; this job also fills the
  *     checkpoint) and prefix-sum the counts into per-partition start
  *     offsets on the driver;
  *  3. second pass adds offset + local position as a column
  *     expression over the frozen rows — no shuffle, no global sort
  *     task, every row touched exactly twice.
  *
  * The order must be TOTAL (tie-free) for the assignment to be
  * deterministic — same contract as the window form it replaces.
  *
  * Reference analog: assign_ids (pickaxe.py:1046-1102) hands out dense
  * export ids by iterating the whole compound dict on one process;
  * this is the distributed equivalent.
  */
object DenseIds {

  /** Append `outCol`: bigint 1..n in `order`. */
  def withDenseRank(
      df: DataFrame,
      order: Seq[Column],
      outCol: String = "__rank",
      numPartitions: Int = 0): DataFrame = {
    require(order.nonEmpty, "withDenseRank: empty order")
    require(!df.columns.contains(outCol),
      s"withDenseRank: input already has a $outCol column")
    val base =
      if (numPartitions > 0) df.repartitionByRange(numPartitions, order: _*)
      else df.repartitionByRange(order: _*)
    // freeze the layout so both passes see the same rows. Lazy: the
    // sorted partitions materialize inside the counting job below
    // instead of in a job of their own
    val ranged = base.sortWithinPartitions(order: _*)
      .localCheckpoint(eager = false)
    // phase 1: per-partition row counts -> start offsets, counted on the
    // checkpoint's internal rows (no scan stage, no Row conversion)
    val counts = CheckpointRows.run(ranged, "DenseIds partition counts")(
      _.mapPartitions(it => Iterator(it.size.toLong)).collect())
    val offsets = counts.scanLeft(0L)(_ + _).init
    // phase 2: offset + local position as one expression over the frozen
    // rows — monotonically_increasing_id is (partition << 33) + the
    // row's position in its partition
    val pid = spark_partition_id()
    ranged.withColumn(outCol,
      typedLit(offsets).getItem(pid) + 1L + monotonically_increasing_id() -
        shiftleft(pid.cast(LongType), 33))
  }
}
