package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  * One parquet file per table under `sfDir`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize `events.ts` to the session-local `TimestampType` every
    * downstream query expects, whatever vintage the file carries. The
    * testdata encoding has drifted across driver regenerations —
    * parquet TIMESTAMP(NANOS) in early rounds, TIMESTAMP(µs) now — so
    * adapt to the schema that actually loaded instead of assuming one:
    *  - LongType: the session has the legacy parquet nanos-as-long conf
    *    set and the file is the nanos vintage → truncate to µs, the
    *    same truncation a µs-based oracle (DuckDB) applies on read.
    *  - TimestampNTZType: µs vintage without UTC adjustment → cast to
    *    the session-local TimestampType; with the gate's UTC session
    *    timezone this is value-identical to the oracle's naive read.
    *  - TimestampType: already what every query expects → pass through.
    * A pure projection, so it works on batch AND streaming DataFrames.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  /** Same drift insurance for `embeddings.embedding`: the queries and
    * the VecDot/BitTanimoto expressions expect `array<float>`. A driver
    * regeneration that widens the parquet list to double (the pandas
    * default) would analysis-fail every similarity query the way the
    * events µs re-encode did — cast it back on load instead.
    */
  def normalizeEmbedding(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    df.schema("embedding").dataType match {
      case ArrayType(DoubleType, n) =>
        df.withColumn("embedding", col("embedding").cast(ArrayType(FloatType, n)))
      case _ => df
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // idempotent: the pack's SQL lambdas name graft_hash64 / graft_nfc,
    // and every query/gate/bench path loads a table first
    graft.expressions.Hash64.register(spark)
    graft.expressions.NfcNormalize.register(spark)
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    name match {
      case "events"     => normalizeEventsTs(df)
      case "embeddings" => normalizeEmbedding(df)
      case _            => df
    }
  }

  /** Spread a narrow frame across the session's full parallelism before
    * an expensive per-row kernel (media decode, codec synthesis, chem).
    * The sf tables are single-row-group parquet files, so a scan is ONE
    * task and everything mapped over it inherits parallelism 1 — a
    * 32-core box runs the decode kernel on one core while 31 idle
    * (guide §2.6 idle capacity; §8: move the narrow rows, not the
    * payload — the callers fan out id/text rows and SYNTHESIZE payloads
    * after the exchange, so the shuffle carries bytes, not blobs).
    * Partition count tracks `defaultParallelism`, so it is
    * scale-adaptive: a real cluster gets its full width, local[N] gets
    * N. Row-order effects: round-robin repartition is deterministic
    * (sort-before-repartition is on by default, SPARK-23207) and every
    * caller aggregates order-insensitively or re-sorts.
    */
  def fanout(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    // scale-adaptive: a production multi-file scan already carries >=
    // cluster-width partitions — then this is a NO-OP (no exchange
    // added); only a collapsed input (one row group) is widened.
    // CONSTRAINT (callers own it): pass SHUFFLE-FREE plans only
    // (scan+filter+project). The width probe below goes through
    // df.rdd, which under AQE MATERIALIZES upstream query stages when
    // the plan already contains an exchange — on a narrow plan it only
    // builds lineage, on a shuffled one it silently runs jobs at
    // plan-build time. Every current caller fans out a bare scan.
    if (df.rdd.getNumPartitions >= want) df else df.repartition(want)
  }

  /** [[fanout]] keyed on `cols`: hash-distributes to the session's full
    * parallelism so a downstream groupBy/window on (a superset of)
    * `cols` REUSES this exchange instead of adding its own (guide §2.4
    * "two operations keyed the same way share one exchange") — and,
    * because the partition count is user-specified, AQE will not
    * coalesce the kernel stage back to one task the way it does with a
    * plain post-aggregation shuffle of tiny data. Always keyed-
    * exchanges (the downstream aggregation needs the clustering); at
    * scale this replaces, not adds to, the aggregation's own shuffle.
    */
  def fanoutBy(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, cols: _*)

  private val rowCounts =
    scala.collection.concurrent.TrieMap.empty[(String, String), Long]

  /** Cached row count for a static table. The parquet count is
    * footer-metadata-only, but each call still plans and runs a job —
    * the IVF gate queries all need n for the centroid-count rule, so
    * one count per (dir, table) per JVM amortizes them.
    *
    * CONTRACT: the path must be IMMUTABLE for the JVM lifetime (true
    * of the driver's testdata dirs). The cache is keyed by path only —
    * overwriting a counted path mid-JVM yields a stale n, from which
    * suggestedBandBits/suggestedCentroids would derive stale geometry
    * that gateCheck can NOT catch (it validates against the same n).
    * Anything that rewrites a table in place must call
    * [[invalidateRowCount]] (DocumentSink/VectorIndex write to fresh
    * target dirs, so library code never needs to).
    */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    rowCounts.getOrElseUpdate((sfDir, name), load(spark, sfDir, name).count())

  /** Drop a cached count after rewriting `sfDir/name.parquet` in place. */
  def invalidateRowCount(sfDir: String, name: String): Unit =
    rowCounts.remove((sfDir, name))
}
