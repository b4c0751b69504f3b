package graft

import org.apache.spark.ListenerBusDrain

import graft.operators.Par

/** The bench's per-layer collector: jobs are attributed by the tag that
  * was set when they started, also from `Par.concurrently` threads, and
  * untagged jobs are left out.
  */
class HarnessSpec extends SparkSuite {

  test("tagged jobs, stages and tasks are summed per tag, " +
    "Par.concurrently threads included") {
    Harness.Collector.setup(spark.sparkContext)
    // a literal no earlier plan held: its generated class is new code
    val fresh = spark.range(100).selectExpr(s"id * ${System.nanoTime()}L AS x")
    Harness.Collector.tagged(spark, "spec#1") {
      Par.concurrently(fresh.agg(Map("x" -> "sum")).collect(),
        spark.range(100).repartition(3).count())
    }
    spark.range(10).count() // untagged: counted nowhere
    ListenerBusDrain(spark.sparkContext)
    val l = Harness.Collector.layers("spec#1").get
    assert(l.jobs >= 2)
    assert(l.stages >= l.jobs)
    assert(l.tasks >= l.stages)
    assert(l.shuffleBytes > 0) // the repartition's exchange
    assert(l.compiles >= 1)
    assert(l.taskS >= 0 && l.gcS >= 0)
    assert(l.driverS >= 0)
    assert(Harness.Collector.layers("spec#2").isEmpty)
    assert(spark.sparkContext.getLocalProperty("graft.harness.tag") == null)
  }

  test("Layers render as one JSON object with the artifact's field names") {
    assert(Harness.Layers(3, 4, 12, 0.5, 0.01, 2048, 0, 7, 0.25).json ===
      """{"jobs":3,"stages":4,"tasks":12,"task_s":0.5,"gc_s":0.01,""" +
        """"shuffle_bytes":2048,"spill_bytes":0,"compiles":7,""" +
        """"driver_s":0.25}""")
  }
}
