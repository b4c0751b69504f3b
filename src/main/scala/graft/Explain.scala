package graft

/** Plan-audit helper: print the formatted physical plan of one or more
  * registry queries (all of them with no args). Usage:
  *   sbt "runMain graft.Explain q_sim_lsh_ann [q_...]"
  * Reads SPARK_GRAFT_SF_DIR (default sf0.001 — plans, not timings).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = Harness.session()
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          println(s"\n========== $name ==========")
          println(fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        case None =>
          System.err.println(s"[explain] unknown query: $name")
      }
    }
    spark.stop()
  }
}
