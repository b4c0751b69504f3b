package pickbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the Pickaxe benchmark: sets the workload up several times,
  * runs timed passes for the requested seconds, checks every pass, and
  * writes one raw JSON record (timings, checks, spans, listener counts)
  * that pickbench/run.py turns into metrics.
  *
  * Usage: Main <workload> <inputsDir> <workDir> <seconds> <trace 0|1>
  *        <cores> <outJson>
  */
object Main {
  val SetupReps = 7
  /** Untimed passes before timing. Each takes about a fifth off the next
    * pass's JIT time. A third one steadied the timed passes further, but
    * its 2-4 s per run leave the run budget too little margin.
    */
  val WarmupPasses = 2
  /** Timed passes at least. The first timed pass can still run a third
    * slower than the later ones while the JIT compilers catch up; with
    * three or more, the median pass never rests on it alone.
    */
  val MinPasses = 3

  /** One timed pass: wall time of the program calls only (checks are
    * excluded), the operations it completed, and per-operation latencies.
    */
  final case class PassOut(wallS: Double, ops: Double,
      latMs: Seq[Double] = Nil, cpuS: Double = Double.NaN,
      jitS: Double = Double.NaN, codegen: Long = 0L,
      steal: Double = Double.NaN)

  /** What a workload sees of the run. */
  final class Ctx(val inputs: Path, val work: Path, val cores: Int) {
    var spark: SparkSession = _
    var tracer: Tracer = _
    var attempted = 0L
    var failed = 0L
    val failures = ArrayBuffer.empty[String]
    /** Per-layer counters, summed over traced passes only. */
    val layer = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit =
      if (tracer != null && tracer.on) layer(k) = layer.getOrElse(k, 0.0) + v
    def span[A](name: String)(body: => A): A = tracer.span(name)(body)
    /** Record one checked operation; a false check counts as failed. */
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (failures.size < 20) failures += what }
    }
    def lines(name: String): Seq[String] =
      Files.readAllLines(inputs.resolve(name)).asScala.toSeq
        .filter(_.nonEmpty)
  }

  trait Workload {
    /** Program-side preparation against a fresh session. */
    def setup(): Unit
    /** Pass `i`; -WarmupPasses <= i < 0 are the untimed warm-up passes. */
    def pass(i: Int): PassOut
    /** Workload-specific fields of the raw record. */
    def extra: Map[String, Any] = Map.empty
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pickbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val Array(name, inputs, work, secondsArg, traceArg, coresArg, out) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    val ctx = new Ctx(Paths.get(inputs), Paths.get(work), cores)
    val load0 = loadAvg()
    val wl: Workload = name match {
      case "expand_query" => new ExpandQuery(ctx)
      case "operator_mix" => new OperatorMix(ctx)
      case other => sys.error(s"unknown workload: $other")
    }

    val tStart = System.nanoTime()
    var errors: ErrorCounter = null
    // set-up, several times: a fresh session each time, the last one kept
    val setupS = (0 until SetupReps).map { r =>
      if (ctx.spark != null) ctx.spark.stop()
      val t0 = System.nanoTime()
      ctx.spark = session(cores, ctx.work)
      if (errors == null) errors = ErrorCounter.install()
      ctx.tracer = new Tracer(ctx.spark.sparkContext)
      wl.setup()
      secondsSince(t0)
    }
    val listener = new JobListener
    if (traced) ctx.spark.sparkContext.addSparkListener(listener)

    val tWarm = System.nanoTime()
    (1 to WarmupPasses).foreach(w => wl.pass(-w))
    val warmS = secondsSince(tWarm)

    // closed loop, one client: passes until the time is up; in a traced
    // run every other pass is traced, with untraced passes on both sides
    // of the first traced one, so the two kinds can be compared
    val passes = ArrayBuffer.empty[(Int, Boolean, PassOut)]
    val t0 = System.nanoTime()
    val cpu0 = cpuTicks()
    var i = 0
    var lastS = 0.0
    // start another pass only while at least half of it fits the time
    while (i < MinPasses || secondsSince(t0) + lastS / 2 < seconds) {
      val tPass = System.nanoTime()
      val tracedPass = traced && i % 2 == 1
      ctx.tracer.on = tracedPass
      ctx.tracer.iter = i
      val c0 = processCpuS()
      val j0 = jitS()
      val g0 = codegenCompiles()
      val k0 = cpuTicks()
      val p =
        try {
          val out = wl.pass(i)
          val k1 = cpuTicks()
          out.copy(cpuS = processCpuS() - c0, jitS = jitS() - j0,
            codegen = codegenCompiles() - g0,
            steal = (k1._2 - k0._2).toDouble / math.max(1L, k1._1 - k0._1))
        }
        catch { case e: Exception =>
          ctx.check(ok = false, s"pass $i threw: $e")
          PassOut(Double.NaN, 0)
        }
      ctx.tracer.on = false
      passes += ((i, tracedPass, p))
      lastS = secondsSince(tPass)
      i += 1
    }
    val timedS = secondsSince(t0)
    val cpu1 = cpuTicks()
    val load1 = loadAvg()
    // listener events are delivered asynchronously: let the bus drain
    if (traced) Thread.sleep(1000)
    ctx.spark.stop()

    val json = Json.obj(
      "workload" -> name,
      "cores" -> cores,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"),
      "loadavg" -> Seq(load0, load1),
      "steal_share" -> (cpu1._2 - cpu0._2).toDouble /
        math.max(1L, cpu1._1 - cpu0._1),
      "setup_s" -> setupS,
      "timed_s" -> timedS,
      "warmup_s" -> warmS,
      "jvm_s" -> secondsSince(tStart),
      "passes" -> passes.map { case (idx, tr, p) =>
        Json.obj("i" -> idx, "traced" -> tr, "wall_s" -> p.wallS,
          "ops" -> p.ops, "lat_ms" -> p.latMs, "cpu_s" -> p.cpuS,
          "jit_s" -> p.jitS, "codegen" -> p.codegen, "steal" -> p.steal)
      },
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "failures" -> ctx.failures,
      "layer" -> ctx.layer.toMap,
      "log_errors" -> errors.count.get,
      "peak_rss_mb" -> peakRssMb(),
      "spans" -> ctx.tracer.spans.map(s => Json.obj("id" -> s.id,
        "name" -> s.name, "parent" -> s.parent, "iter" -> s.iter,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "listener" -> listener.toJson,
      "extra" -> wl.extra)
    Files.write(Paths.get(out), json.toString.getBytes("UTF-8"))
  }

  def loadAvg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split(" ")(0).toDouble

  /** Host CPU ticks since boot: (all, stolen by the hypervisor). */
  def cpuTicks(): (Long, Long) = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")))
      .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    (f.sum, if (f.length > 7) f(7) else 0L)
  }

  /** CPU time of this process, in seconds. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Time the JIT compilers have spent compiling, in seconds. */
  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime / 1e3

  /** Whole-stage and expression classes Spark has compiled with Janino
    * (code-generation cache misses) in this JVM.
    */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** Driver high-water resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq
      all.reverse.foreach(Files.delete)
    }

  def treeBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
}
