package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** The one switch for every size-gated hybrid operator: the Pickaxe
  * prune and filter cascades (`pickaxe.Membership`: the prune, the two
  * `pickaxe.Cascade` fixpoints), `PickaxeEngine.assignIds`,
  * [[GraphClosure]], [[ConnectedComponents]] and [[Bpe]]. Each of them
  * runs a driver-local twin below its own crossover and its distributed
  * fixpoint above it. The Pickaxe operators size nothing first: the
  * bounded read of [[collectUpTo]] is their gate and their local input
  * at once.
  *
  * `spark.graft.localPaths` (default `true`) keeps those gates as they
  * are. `false` sends every gated operator down its distributed path,
  * an empty input included, and skips the job that reads or sizes the
  * input for the gate. At fixture scale only the local twins run
  * otherwise, so the switch is how the distributed side gets checked
  * against the oracle: `-Dspark.graft.localPaths=false` on a forked main
  * (Spark copies `spark.*` system properties into the session conf), or
  * `spark.conf.set` in a session.
  */
object LocalGate {

  val key = "spark.graft.localPaths"

  /** Whether gated operators may take their driver-local path. A value
    * other than true/false fails here rather than silently choosing one.
    */
  def enabled(spark: SparkSession): Boolean = {
    val raw = spark.conf.get(key, "true")
    raw.trim.toBooleanOption.getOrElse(throw new IllegalArgumentException(
      s"$key must be true or false, got '$raw'"))
  }

  /** The elements of `rdd`, when there are few enough for a driver-local
    * path: one job, in which each partition ships at most its share of
    * `limit` (and one more). `None` when any partition holds more than
    * its share, so a table above `limit` never crosses to the driver
    * whole, and a skewed one takes the distributed path.
    */
  def collectUpTo[T: ClassTag](rdd: RDD[T], limit: Int): Option[Array[T]] = {
    val share = math.max(1, limit / math.max(1, rdd.getNumPartitions))
    val parts = rdd.mapPartitions(it => Iterator(it.take(share + 1).toArray))
      .collect()
    if (parts.exists(_.length > share)) None else Some(parts.flatten)
  }
}
