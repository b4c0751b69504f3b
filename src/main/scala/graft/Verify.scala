package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  private def rmTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Run the gate over `queries`, writing per-query parquet, the oracle
    * SQL map, and a self-auditing `errors.json`. Extracted from `main`
    * so the failure path is unit-testable (VerifySpec injects a
    * throwing query and asserts the marker appears). Returns the
    * name → exception map of failures.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          queries: Map[String, (SparkSession, String) => DataFrame],
          oracleSql: Map[String, String],
          only: Option[Set[String]]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    // a typo'd name would silently run nothing and leave any STALE
    // parquet from a prior run in outDir looking like a green gate —
    // fail loudly instead
    only.foreach { names =>
      val unknown = names -- queries.keySet
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_ONLY: unknown/empty query names " +
          s"${unknown.mkString(", ")} (registered: " +
          s"${queries.keys.toSeq.sorted.mkString(", ")})")
    }
    // a subset run must not leave a prior full run's outputs in
    // place: stale parquet under the full oracle map would read as a
    // green FULL gate. Delete the unselected outputs and (below) emit
    // only the subset's oracle rows, so a subset dir can only ever
    // gate the subset it actually ran.
    only.foreach { names =>
      (queries.keySet -- names).foreach(stale =>
        rmTree(Paths.get(outDir, stale)))
    }
    val selected = queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Crash marker: write errors.json BEFORE running anything, with a
    // sentinel error that only a COMPLETED run overwrites. If the JVM
    // dies mid-run (OOM, kill), the checker finds this marker instead
    // of a partial output directory with no audit trail — the same
    // silent-shrink hole the end-of-run record closes for per-query
    // throws, closed for whole-process death.
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      s"""{"n_registered": ${queries.size},""" +
      s""" "n_selected": ${selected.size}, "n_written": 0,""" +
      s""" "errors": {"__run_incomplete__":""" +
      s""" "Verify started but did not finish"}}""")
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      // delete the query's PRIOR output before attempting the write: a
      // query that throws (analysis error, gate assert) must leave NO
      // parquet behind, or the checker would compare the previous
      // run's stale result and report PASS for a query that never ran
      rmTree(Paths.get(outDir, name))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getName}: " +
          String.valueOf(e.getMessage).linesIterator.take(4).mkString(" | ")
      }
    }
    val json = oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Self-auditing failure record: a throwing query leaves no parquet
    // (deliberately, see rmTree above), which means the checker would
    // silently drop it and the correctness artifact could SHRINK while
    // still reading all-green (this happened in round 10: 88 registered,
    // 82 checked, 6 invisible errors). errors.json names every query
    // that failed this run, and n_registered/n_selected/n_written let
    // any consumer reconcile the artifact against the registry without
    // trusting the directory listing.
    val errJson =
      s"""{"n_registered": ${queries.size},""" +
      s""" "n_selected": ${selected.size},""" +
      s""" "n_written": ${selected.size - errors.size},""" +
      s""" "errors": ${errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
            .mkString("{", ",", "}")}}"""
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size}/${selected.size} " +
        s"queries FAILED: ${errors.keys.mkString(", ")}")
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    // Mark this session as THE correctness gate: queries whose DuckDB
    // oracle pins scale-dependent constants (LSH band bits) assert the
    // live data matches the pinned geometry instead of silently
    // hash-mismatching when the gate is pointed at the wrong SF.
    spark.conf.set("graft.gate", "true")
    // local-iteration filter: SPARK_GRAFT_ONLY=q_a,q_b runs a subset
    // (unset for the driver's full gate run)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    run(spark, sfDir, outDir, SparkEntry.queries, SparkEntry.oracleSql, only)
    // Deliberately exit 0 even on failures: the driver must still run
    // the DuckDB compare over the queries that DID write; errors.json
    // is the loud, machine-readable record of the ones that didn't.
    spark.stop()
  }
}
