package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Checkpointed restart semantics — the operational half of the
  * streaming story the parity specs don't cover: a file-source →
  * file-sink pipeline with a checkpoint must survive a stop/restart
  * with EXACTLY-ONCE output (no loss, no duplicates), including when
  * new input arrives while the query is down.
  */
class RestartSpec extends SparkSuite {
  import spark.implicits._

  test("file pipeline resumes from its checkpoint exactly once") {
    val base = Files.createTempDirectory("restart").toString
    val (srcDir, outDir, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    new java.io.File(srcDir).mkdirs()

    val events = graft.Tables.load(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "value")
    val n = events.count()
    val (h1, h2) = (events.where(col("event_id") % 2 === 0),
      events.where(col("event_id") % 2 =!= 0))

    def start() = spark.readStream
      .schema(events.schema)
      .parquet(srcDir)
      // a real transform rides along so the restart covers more than
      // pass-through: the scrub-style projection family
      .withColumn("etype", upper(col("event_type")))
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()

    // phase 1: first half arrives, query runs, then STOPS
    h1.write.mode("append").parquet(srcDir)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    val afterPhase1 = spark.read.parquet(outDir).count()
    assert(afterPhase1 === h1.count())

    // phase 2: second half lands WHILE THE QUERY IS DOWN; the
    // restarted query must pick it up from the checkpoint without
    // reprocessing phase 1
    h2.write.mode("append").parquet(srcDir)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val out = spark.read.parquet(outDir)
    assert(out.count() === n, "exactly-once: no loss, no duplicates")
    assert(out.select("event_id").distinct().count() === n)
    // the transform applied to every row across both incarnations
    assert(out.where(col("etype") =!= upper(col("event_type")))
      .count() === 0L)
    // order-independent content fingerprint vs the batch equivalent
    val got = out.agg(sum("event_id"), sum("user_id"),
      sum(expr("cast(round(value * 100) as long)")))
      .as[(Long, Long, Long)].head()
    val want = events.agg(sum("event_id"), sum("user_id"),
      sum(expr("cast(round(value * 100) as long)")))
      .as[(Long, Long, Long)].head()
    assert(got === want)
  }
}
