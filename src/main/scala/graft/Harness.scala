package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one session setup of the mains (Bench, Verify, Explain, Show)
  * and the one collector of what their Spark jobs did.
  *
  * `SPARK_GRAFT_CPUS` (default: the host's core count) sets the local
  * master and the shuffle partitions; the session runs in UTC with the
  * UI off and logs at WARN. The collector is installed once per
  * SparkContext and sums, per tag, the jobs, stages and tasks that ran
  * while `tagged` held that tag, plus the codegen compiles and the
  * driver time: the tag's wall time outside all of its jobs.
  */
object Harness {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Collector.setup(spark.sparkContext)
    spark
  }

  /** What one tag's jobs did. Times in seconds; `driverS` is the tag's
    * wall time minus the union of its jobs' intervals (planning, driver
    * work and the gaps between jobs). `repCompiles`, when set, holds
    * the compiles of every rep of the tag's query in rep order, so a
    * cold first rep shows apart from a contended one.
    */
  final case class Layers(jobs: Long, stages: Long, tasks: Long,
      taskS: Double, gcS: Double, shuffleBytes: Long, spillBytes: Long,
      compiles: Long, driverS: Double, repCompiles: Seq[Long] = Nil) {
    def json: String =
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""task_s":$taskS,"gc_s":$gcS,"shuffle_bytes":$shuffleBytes,""" +
        s""""spill_bytes":$spillBytes,"compiles":$compiles,""" +
        s""""driver_s":$driverS""" +
        (if (repCompiles.isEmpty) ""
        else repCompiles.mkString(""","rep_compiles":[""", ",", "]")) + "}"
  }

  /** Milliseconds of `[from, to]` covered by none of `jobs` (start, end)
    * intervals, in epoch milliseconds.
    */
  def uncoveredMs(from: Long, to: Long, jobs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = from
    jobs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => a < b }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    math.max(0L, to - from - covered)
  }

  /** Jobs carry their tag as a local property, which `Par.concurrently`
    * threads inherit; a stage takes the tag of the job that submitted
    * it, a task the tag of its stage. Listener events arrive
    * asynchronously, so read `layers` only after the bus has drained
    * (`spark.stop()` drains it).
    */
  object Collector extends SparkListener {
    private val TagKey = "graft.harness.tag"
    private final class Acc {
      val jobs, stages, tasks, taskMs, gcMs, shuffle, spill = new AtomicLong
    }
    private val byTag = new ConcurrentHashMap[String, Acc]()
    private val stageAcc = new ConcurrentHashMap[Int, Acc]()
    private val compiles = new ConcurrentHashMap[String, Long]()
    /** tag -> its `tagged` call's (start, end), epoch milliseconds */
    private val walls = new ConcurrentHashMap[String, (Long, Long)]()
    /** running job -> (tag, start); a finished job's interval goes to
      * its tag's list
      */
    private val running = new ConcurrentHashMap[Int, (String, Long)]()
    private val jobSpans =
      new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]]()
    private var installedOn: SparkContext = null

    def setup(sc: SparkContext): Unit = synchronized {
      if (installedOn ne sc) { sc.addSparkListener(this); installedOn = sc }
    }

    private def acc(props: java.util.Properties): Option[Acc] =
      Option(props).flatMap(p => Option(p.getProperty(TagKey)))
        .map(byTag.computeIfAbsent(_, _ => new Acc))

    def tagged[A](spark: SparkSession, tag: String)(body: => A): A = {
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(TagKey)
      sc.setLocalProperty(TagKey, tag)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.currentTimeMillis()
      try body
      finally {
        compiles.put(tag, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
        walls.put(tag, (t0, System.currentTimeMillis()))
        sc.setLocalProperty(TagKey, outer)
      }
    }

    /** Codegen compiles of a tag `tagged` ran. */
    def compilesOf(tag: String): Option[Long] = Option(compiles.get(tag))

    /** Totals of a tag `tagged` ran, also when it started no job. */
    def layers(tag: String): Option[Layers] =
      if (!compiles.containsKey(tag)) None
      else {
        val a = byTag.getOrDefault(tag, new Acc)
        val (t0, t1) = walls.get(tag)
        val spans = Option(jobSpans.get(tag)).toSeq
          .flatMap(q => scala.jdk.CollectionConverters.IterableHasAsScala(q).asScala)
        Some(Layers(a.jobs.get, a.stages.get, a.tasks.get, a.taskMs.get / 1e3,
          a.gcMs.get / 1e3, a.shuffle.get, a.spill.get, compiles.get(tag),
          uncoveredMs(t0, t1, spans) / 1e3))
      }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      acc(e.properties).foreach { a =>
        a.jobs.incrementAndGet()
        running.put(e.jobId, (e.properties.getProperty(TagKey), e.time))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(running.remove(e.jobId)).foreach { case (tag, start) =>
        jobSpans.computeIfAbsent(tag,
          _ => new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]())
          .add((start, e.time))
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      acc(e.properties).foreach { a =>
        a.stages.incrementAndGet()
        stageAcc.put(e.stageInfo.stageId, a)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageAcc.get(e.stageId)).foreach { a =>
        a.tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          a.taskMs.addAndGet(m.executorRunTime)
          a.gcMs.addAndGet(m.jvmGCTime)
          a.shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }
}
