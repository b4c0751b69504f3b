package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable cardinality / frequency sketches — the summary structures a
  * 100 TB profile pass runs INSTEAD of exact distinct/frequency shuffles
  * (SURVEY §2.5 A8/A9 family; the reference's network-size accounting,
  * /root/reference/minedatabase/pickaxe.py:720-760, counts exactly
  * because it is single-node — at cluster scale the same questions are
  * answered with fixed-size mergeable state).
  *
  * Both sketches are DETERMINISTIC: every hash is the pack's shared
  * 60-bit md5 `graft_hash64`, so register/cell contents — not just the
  * estimates — are bit-reproducible across runs, partitionings, and
  * engines, and a DuckDB oracle can rebuild the identical sketch in SQL.
  *
  * Scale shape: a HyperLogLog register table is at most `2^p` rows per
  * group and aggregates with a map-side partial `max` — the shuffle
  * carries registers, never keys. A Count-Min sketch is `d×w` cells
  * aggregating with partial `sum`. Exact distinct/frequency over the
  * same 100 TB input shuffles every distinct key; the sketches shuffle
  * kilobytes. Both are unions: sketches of shards merge by
  * `max`/`sum` with no re-scan (the properties the specs pin).
  */
object Sketches {

  /** HyperLogLog register table (Flajolet et al. 2007): one row per
    * (group, bucket) with `reg` = max over keys hashing there of
    * 1 + leading-zero count of the hash suffix.
    *
    * The 60-bit `graft_hash64` splits as: top `p` bits → bucket, low
    * `60-p` bits → suffix `w`; `rho = (60-p) + 1 - msb_position(w)`
    * computed in pure INTEGER arithmetic via the binary-digit length
    * (`length(bin(w))` — no leading zeros in either engine), so the
    * register table is integer-exact and oracle-reproducible.
    */
  def hllRegisters(
      df: DataFrame,
      keyExpr: Column,
      groupCols: Seq[String],
      p: Int = 12): DataFrame = {
    require(p >= 4 && p <= 16, s"p out of range: $p")
    val wBits = 60 - p
    val wMod = 1L << wBits
    val gs = groupCols.map(col)
    df.select(gs :+ keyExpr.cast("string").as("__hll_key"): _*)
      .withColumn("__h", expr("graft_hash64(__hll_key)"))
      .withColumn("bucket", expr(s"__h div ${wMod}L"))
      .withColumn("__w", expr(s"__h % ${wMod}L"))
      .withColumn("__rho",
        when(col("__w") === 0L, lit(wBits + 1))
          .otherwise(lit(wBits + 1) - length(bin(col("__w")))))
      .groupBy(gs :+ col("bucket"): _*)
      .agg(max("__rho").cast("long").as("reg"))
  }

  /** Raw HLL estimate per group from a register table: the harmonic-mean
    * formula `alpha_m * m^2 / sum_j 2^-M_j` with the sum kept EXACT as a
    * bigint scaled by `2^(wBits+1)` (register values are ≤ wBits+1, so
    * every term `2^(wBits+1-reg)` is integral; absent buckets contribute
    * the full `2^(wBits+1)`). The only floating-point ops are the final
    * multiply/divide from exact integers — IEEE correctly-rounded, so
    * both engines produce the identical double.
    *
    * Deliberately the RAW estimator: the small-range linear-counting
    * correction (`m·ln(m/V)`) needs a transcendental `ln` whose last-ulp
    * behavior is libm-specific — a cross-engine hash hazard — so this
    * operator reports the raw estimate plus the exact empty-bucket count
    * (`2^p - nonempty`), from which a caller that wants the corrected
    * figure can apply it; the oracle-gated query reports the exact
    * distinct count alongside, measuring the sketch error rather than
    * guessing at it.
    */
  def hllEstimate(
      registers: DataFrame,
      groupCols: Seq[String],
      p: Int = 12): DataFrame = {
    val m = 1L << p
    val shift = 60 - p + 1
    val gs = groupCols.map(col)
    registers
      .groupBy(gs: _*)
      .agg(
        count(lit(1)).as("nonempty"),
        sum(expr(s"shiftleft(1L, $shift - reg)")).as("__zpart"))
      .withColumn("z_scaled",
        col("__zpart") + (lit(m) - col("nonempty")) * lit(1L << shift))
      .withColumn("hll_est", expr(
        s"round((0.7213 / (1 + 1.079 / $m.0)) * $m.0 * $m.0 * " +
          s"${1L << shift}.0 / CAST(z_scaled AS DOUBLE), 1)"))
      .select(gs ++ Seq(col("nonempty"), col("z_scaled"),
        col("hll_est")): _*)
  }

  /** Count-Min sketch (Cormode & Muthukrishnan 2005): `d` independent
    * hash rows of `w` buckets, each cell the sum of `weightExpr` (1 for
    * plain frequency) over keys hashing there. Row hashes are
    * `graft_hash64(i || ':' || key) % w` — deterministic and
    * SQL-reproducible. Returns (row, bucket, cnt).
    *
    * The input explodes ×d BEFORE the aggregation, but the shuffle
    * still carries only `d×w` cells (map-side partial sums); at 100 TB
    * the sketch answers point-frequency queries over an unbounded key
    * universe in fixed memory, with the one-sided guarantee
    * `est ≥ true` (never undercounts) that the query audits.
    */
  def cmsSketch(
      df: DataFrame,
      keyExpr: Column,
      d: Int = 4,
      w: Int = 1024): DataFrame = {
    require(d >= 1 && w >= 2)
    df.select(keyExpr.cast("string").as("__cms_key"))
      .withColumn("row", explode(expr(s"sequence(0, ${d - 1})")))
      .withColumn("bucket",
        expr(s"graft_hash64(concat(row, ':', __cms_key)) % $w"))
      .groupBy("row", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Persist an HLL register table (the VectorIndex/TextIndex
    * discipline applied to sketches): registers as parquet plus a
    * 1-row meta table pinning `p`, so a later load/append cannot
    * silently mix geometries. The saved artifact is the WHOLE
    * summary — loading it answers cardinality questions about a
    * 100 TB corpus without touching the corpus.
    */
  def saveHll(registers: DataFrame, path: String, p: Int): Unit = {
    registers.write.mode("overwrite").parquet(s"$path/registers")
    val spark = registers.sparkSession
    import spark.implicits._
    Seq(p).toDF("p").write.mode("overwrite").parquet(s"$path/meta")
  }

  def loadHll(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, Int) = {
    val p = spark.read.parquet(s"$path/meta")
      .head().getAs[Int]("p")
    (spark.read.parquet(s"$path/registers"), p)
  }

  /** Fold new rows into a saved HLL sketch: sketch the arrivals at
    * the saved geometry, bucket-wise max with the stored registers,
    * rewrite. Exactly the merge law the spec pins — an append is
    * indistinguishable from a full rebuild over old ∪ new (no decay,
    * no approximation drift), because registers are monotone maxima.
    */
  def appendHll(
      df: DataFrame,
      keyExpr: Column,
      groupCols: Seq[String],
      path: String): Unit = {
    val spark = df.sparkSession
    val (saved, p) = loadHll(spark, path)
    val merged = saved
      .unionByName(hllRegisters(df, keyExpr, groupCols, p))
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max("reg").as("reg"))
      .localCheckpoint() // sever lineage from the files being replaced
    saveHll(merged, path, p)
  }

  /** Misra-Gries candidate pass for [[heavyHitters]]: per-partition
    * k-counter summaries (Misra & Gries 1982), unioned. The guarantee
    * that makes the 2-pass result EXACT: an item with total frequency
    * > N/(k+1) must exceed n_p/(k+1) in at least one partition p
    * (otherwise its total is ≤ Σ n_p/(k+1) = N/(k+1)), and MG with k
    * counters never evicts an item above its partition's threshold —
    * so the candidate union is a SUPERSET of every qualifying key,
    * whatever the partitioning. At most k × partitions candidates.
    *
    * This is the pack's one genuinely per-partition imperative kernel
    * (SURVEY §7.3 sanctions mapPartitions exactly here): the
    * decrement-all eviction is amortized O(1) per row and the state
    * is k entries — a declarative window/groupBy formulation would
    * shuffle the full key universe, which is what this avoids.
    */
  def mgCandidates(df: DataFrame, keyExpr: Column, k: Int): DataFrame = {
    require(k >= 1)
    val keys = df.select(keyExpr.cast("string").as("key"))
    val spark = keys.sparkSession
    import spark.implicits._
    keys.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { s =>
        counters.get(s) match {
          case Some(c) => counters(s) = c + 1
          case None if counters.size < k => counters(s) = 1L
          case None =>
            // decrement-all; each decrement cancels one prior
            // increment, so total work is amortized O(1) per row
            val dead = List.newBuilder[String]
            counters.foreach { case (key, c) =>
              if (c == 1L) dead += key else counters(key) = c - 1
            }
            dead.result().foreach(counters.remove)
        }
      }
      counters.keysIterator
    }.toDF("key").distinct()
  }

  /** EXACT heavy hitters in two passes — every key with total
    * frequency strictly above N/(k+1), with its exact count. Pass 1:
    * [[mgCandidates]] (narrow, no shuffle of the key universe). Pass
    * 2: exact recount restricted to candidates (one semi-ish
    * equi-join + count-shaped aggregation), then the integer-exact
    * cross-multiplied threshold `cnt * (k+1) > N`. The MG superset
    * guarantee makes the output EQUAL to the plain
    * groupBy-everything answer — which is exactly what the DuckDB
    * oracle computes — while the shuffle carries only candidate
    * keys. Output: key, cnt, n_total.
    */
  def heavyHitters(df: DataFrame, keyExpr: Column, k: Int): DataFrame = {
    val keys = df.select(keyExpr.cast("string").as("key"))
    val tot = keys.agg(count(lit(1)).as("n_total"))
    keys
      .join(mgCandidates(df, keyExpr, k).hint("broadcast"), Seq("key"))
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .where(col("cnt") * lit(k + 1L) > col("n_total"))
  }

  /** Point-frequency estimates for `keys` (must carry a string column
    * `key`) against a CMS sketch: min over the d cells the key hashes
    * to. Broadcasts the sketch (d×w rows — bounded by construction) so
    * the probe is exchange-free on the candidate side.
    */
  def cmsEstimate(
      sketch: DataFrame,
      keys: DataFrame,
      d: Int = 4,
      w: Int = 1024): DataFrame =
    keys
      .withColumn("row", explode(expr(s"sequence(0, ${d - 1})")))
      .withColumn("bucket",
        expr(s"graft_hash64(concat(row, ':', key)) % $w"))
      .join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy("key")
      .agg(min("cnt").as("cms_est"))
}
