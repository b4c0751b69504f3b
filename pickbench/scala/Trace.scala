package pickbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock in epoch nanoseconds: nanoTime resolution, but on the same
  * time base as Spark's listener events (epoch milliseconds), so spans and
  * job intervals can be intersected.
  */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs: Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** One span per layer call made by the benchmark. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
    startNs: Long, endNs: Long)

/** Spans kept in memory and written out when the run ends. Jobs started
  * inside a span carry its id as the `pickbench.span` local property, so
  * the listener can attribute them without waiting on the event bus.
  */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  var on = false
  var iter = -1
  private var nextId = 1
  private var current = 0

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = current
      current = id
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = Clock.nowNs
      try body
      finally {
        spans += Span(id, name, parent, iter, t0, Clock.nowNs)
        current = parent
        sc.setLocalProperty(Tracer.SpanKey,
          if (parent == 0) null else parent.toString)
      }
    }
}

object Tracer { val SpanKey = "pickbench.span" }

final case class JobStart(id: Int, span: Int, startMs: Long, stages: Seq[Int])

/** Per-stage task totals plus job start/end events, kept raw; the
  * aggregation per span happens after the run (see pickbench/stats.py).
  */
final class JobListener extends SparkListener {
  final class StageAgg {
    val tasks = new AtomicLong; val taskMs = new AtomicLong
    val maxTaskMs = new AtomicLong; val gcMs = new AtomicLong
    val shuffleBytes = new AtomicLong; val spillBytes = new AtomicLong
    val recordsRead = new AtomicLong
  }
  val jobs = new ConcurrentHashMap[Int, JobStart]()
  val jobEnds = new ConcurrentHashMap[Int, Long]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    jobs.put(e.jobId, JobStart(e.jobId, span, e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
    a.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs.addAndGet(m.executorRunTime)
      a.maxTaskMs.accumulateAndGet(m.executorRunTime, math.max)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def toJson: Json.Raw = {
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Json.obj("id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs,
        "end_ms" -> Option(jobEnds.get(j.id)).map(_.longValue)
          .getOrElse(j.startMs),
        "stages" -> j.stages)
    }
    val ss = stages.asScala.toSeq.sortBy(_._1).map { case (id, a) =>
      Json.obj("id" -> id, "tasks" -> a.tasks.get, "task_ms" -> a.taskMs.get,
        "max_task_ms" -> a.maxTaskMs.get, "gc_ms" -> a.gcMs.get,
        "shuffle_bytes" -> a.shuffleBytes.get,
        "spill_bytes" -> a.spillBytes.get,
        "records_read" -> a.recordsRead.get)
    }
    Json.obj("jobs" -> js, "stages" -> ss)
  }
}

/** Counts ERROR (and FATAL) log events on the root logger. */
final class ErrorCounter extends AbstractAppender(
    "pickbench-errors", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) count.incrementAndGet()
}

object ErrorCounter {
  def install(): ErrorCounter = {
    val app = new ErrorCounter
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.ERROR, null)
    ctx.updateLoggers()
    app
  }
}

/** Just enough JSON writing for the raw result file. */
object Json {
  /** Already-rendered JSON. */
  final case class Raw(s: String) { override def toString: String = s }
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => quote(k) + ":" + value(v) }
      .mkString("{", ",", "}"))
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => quote(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
