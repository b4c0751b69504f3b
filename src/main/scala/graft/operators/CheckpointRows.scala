package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.graftbridge.FrameBridge
import org.apache.spark.sql.types.StructType

/** RDD jobs over the rows of a DataFrame, and DataFrames over RDDs of
  * Catalyst rows, for steps that need no generated code: driver-side
  * facts such as counts, and key-value merges.
  *
  * A DataFrame that is an RDD leaf (a `localCheckpoint`, eager or lazy,
  * or a [[frame]]) hands over its own RDD: a DataFrame action over it
  * would plan a scan stage and compile a class for it, only to hand the
  * same rows on. Any other DataFrame runs through its physical plan.
  * Jobs run inside a SQL execution, like every DataFrame action: tasks
  * load generated classes under the session's class loader, where the
  * query's other jobs find them cached, instead of under the executor's
  * default loader, which would compile its own copies.
  */
object CheckpointRows {

  /** The rows of `df`, in its column order. */
  def rows(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.optimizedPlan match {
      case r: LogicalRDD => r.rdd
      case _ => df.queryExecution.toRdd
    }

  def run[T](df: DataFrame, name: String)(job: RDD[InternalRow] => T): T =
    within(df, name)(job(rows(df)))

  /** `body`'s jobs, run inside a SQL execution of `df`. */
  def within[T](df: DataFrame, name: String)(body: => T): T =
    SQLExecution.withNewExecutionId(df.queryExecution, Some(name))(body)

  /** A DataFrame over `rows` (which match `schema`), sized for the
    * planner like `like`, from which the rows were derived.
    */
  def frame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
      like: DataFrame): DataFrame =
    FrameBridge.frame(spark, rows, schema, FrameBridge.stats(like))

  /** A DataFrame over `n` rows held by `rows`, which match `schema`. */
  def frame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
      n: Long): DataFrame =
    FrameBridge.frame(spark, rows, schema, Statistics(
      sizeInBytes = BigInt(n) * (8 + schema.defaultSize),
      rowCount = Some(BigInt(n))))

  /** [[frame]] over `rows`, materialized now as a local checkpoint (one
    * job, which also runs whatever `rows` still needs computed). Readers
    * see its partitions coalesced to its size, the way adaptive
    * execution coalesces a shuffle's output: no partition under
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize` unless
    * there is only one.
    */
  def checkpoint(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType, name: String): DataFrame = {
    val held = rows.localCheckpoint()
    val n = run(frame(spark, held, schema, 0L), name)(_.count())
    val minBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "1MB"))
    val parts = math.max(1L, math.min(held.getNumPartitions.toLong,
      n * (8 + schema.defaultSize) / math.max(1L, minBytes))).toInt
    frame(spark, held.coalesce(parts), schema, n)
  }
}
