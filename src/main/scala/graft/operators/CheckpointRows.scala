package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** An RDD job over the rows of a checkpointed DataFrame (`localCheckpoint`,
  * eager or lazy), for driver-side facts about them such as counts.
  *
  * It reads the checkpoint's own RDD: a DataFrame action over it would
  * plan a scan stage and compile a class for it, only to hand the same
  * rows on. The job still runs inside a SQL execution, like every
  * DataFrame action: tasks load generated classes under the session's
  * class loader, where the query's other jobs find them cached, instead
  * of under the executor's default loader, which would compile its own
  * copies. Any other DataFrame runs through its physical plan.
  */
object CheckpointRows {
  def run[T](df: DataFrame, name: String)(job: RDD[InternalRow] => T): T = {
    val qe = df.queryExecution
    val rows = qe.logical match {
      case r: LogicalRDD => r.rdd
      case _ => qe.toRdd
    }
    SQLExecution.withNewExecutionId(qe, Some(name))(job(rows))
  }
}
