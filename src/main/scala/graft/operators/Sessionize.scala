package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization: assign a session id per key, starting a new
  * session whenever the gap to the previous event exceeds `gapSeconds`.
  * One window pass, one shuffle on the key.
  *
  * All time arithmetic is integer microseconds (`unix_micros`) so results
  * are bit-exact and engine-portable (no double rounding, no tz).
  */
object Sessionize {

  /** Adds a `session_id` column (1-based per key, in time order). */
  def sessionize(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      gapSeconds: Long,
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    val order = (col(tsCol) +: tieBreakCols.map(col)).toSeq
    val w = Window.partitionBy(keyCol).orderBy(order: _*)
    val micros = unix_micros(col(tsCol))
    val prev = lag(micros, 1).over(w)
    val isNew = when(prev.isNull || micros - prev > gapSeconds * 1000000L, 1)
      .otherwise(0)
    events
      .withColumn("__new_session", isNew)
      .withColumn("session_id",
        sum(col("__new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new_session")
  }
}
