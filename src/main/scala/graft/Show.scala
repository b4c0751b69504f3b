package graft

/** Local-iteration result dump: `runMain graft.Show q_x` prints the
  * named queries' results on SPARK_GRAFT_SF_DIR (default sf0.01).
  */
object Show {
  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session()
    args.foreach { name =>
      println(s"== $name ==")
      SparkEntry.queries(name)(spark, sfDir).show(100, false)
    }
    spark.stop()
  }
}
