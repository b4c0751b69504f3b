package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.pickaxe.AdductRow

/** Structured Streaming surface (SURVEY §2.10).
  *
  * The reference is pure batch; its one unbounded-in-principle feed is
  * the metabolomics peak stream (annotate_peaks processes peaks one at a
  * time, metabolomics.py:354-397). That feed is the only streaming
  * surface here:
  *
  *  - `peakSearchStream`: stream of peaks joined to the static compound
  *    table — a stream-static interval join; no watermark needed because
  *    the static side never lates.
  *  - `ms2StaticSide` + `ms2ScoreStream`: the same join with the static
  *    spectra attached, scored by batch ms2Search's kernel and reduced to
  *    a per-(event-time-window, peak) best hit.
  */
object StreamingOps {

  /** Stream-static mass search — the online twin of
    * `MassSearch.adductSearch` (same candidate predicate, same window
    * arithmetic, same J6 bucket discipline): each arriving peak row
    * (name, mz, charge) is expanded by the (broadcastable) adduct
    * list into ppm-or-Da tolerance windows and interval-joined to the
    * static compounds table on Mass. The static side is a bucketed
    * equi-join prelude + exact inclusive range check, so the plan
    * stays an equi-join (no per-row scans) at any compound-table
    * size; the join is STATELESS (no watermark, no keyed state — the
    * static side never lates), so streaming state is zero and memory
    * is bounded by the persisted static side plus one micro-batch.
    *
    * `tol`/`ppm`/`excludeHalogens`/`bucketWidth` follow adductSearch:
    * ppm windows over wide mass ranges should pass bucketWidth ~1.0
    * so each window explodes to <= 2 bucket keys.
    */
  def peakSearchStream(
      peaks: DataFrame,
      compounds: DataFrame,
      adducts: Seq[AdductRow],
      tol: Double = 0.001,
      ppm: Boolean = false,
      excludeHalogens: Boolean = true,
      bucketWidth: Double = 0.01): DataFrame =
    adductWindows(peaks, adducts, tol, ppm, bucketWidth)
      .join(bucketedCandidates(compounds, excludeHalogens, bucketWidth),
        Seq("bucket"))
      .where(col("Mass") >= col("lo") && col("Mass") <= col("hi"))
      .select("peak", "adduct", "_id", "SMILES", "Formula", "Mass")

  /** Pre-joined static side for [[ms2ScoreStream]]: batch adductSearch's
    * candidate predicate (neutral compounds, halogen exclusion —
    * MassSearch.scala) bucketed on Mass with the spectra attached.
    * Returned UNPERSISTED — the caller owns the caching contract:
    * `.persist()` it before starting the query (a stream-static join
    * re-runs the static plan every micro-batch otherwise) and
    * `.unpersist()` it after the query stops. `bucketWidth` and
    * `excludeHalogens` must match the values passed to the stream call.
    */
  def ms2StaticSide(
      compounds: DataFrame,
      spectra: DataFrame, // c_id, spectrum: array<(mz,intensity)>
      excludeHalogens: Boolean = true,
      bucketWidth: Double = 0.01): DataFrame =
    bucketedCandidates(compounds, excludeHalogens, bucketWidth)
      .select("bucket", "_id", "Mass")
      .join(spectra.withColumnRenamed("c_id", "_id"), Seq("_id"))

  /** Stream-static MS2 spectral scoring — the streaming twin of
    * MassSearch.ms2Search (q_pickaxe_ms2): each arriving MS2 peak
    * (name, mz, charge, ts, ms2) is adduct-window annotated against the
    * static compound table (bucketed interval join, same plan shape as
    * peakSearchStream), joined to the static spectra table, scored with
    * the SAME spectralDot/spectralJaccard kernel as batch, then reduced
    * to a per-(event-time-window, peak) best hit by a WATERMARKED
    * aggregation — streaming has no rank(), so "rank 1" becomes
    * min(struct(-score, _id)): highest score, ties to the SMALLEST id,
    * exactly batch ms2Search's rank ordering. The watermark bounds the
    * aggregation state AND drops peaks arriving later than `watermark`
    * past the stream's event-time high mark — a batch re-run would still
    * score them; a stream must trade lateness for bounded state.
    *
    * Caching contract: pass `staticSide` = a PERSISTED
    * [[ms2StaticSide]] (built with the same excludeHalogens/bucketWidth)
    * and unpersist it when the query stops. When omitted, the static
    * side is built and persisted internally and stays cached for the
    * SparkSession's lifetime — fine for one long-lived query, a leak if
    * you start many.
    *
    * Output: bucket (window start), peak, n_hits, best_score, best_id.
    */
  def ms2ScoreStream(
      peaks: DataFrame, // name, mz, charge, ts, ms2: array<(mz,intensity)>
      compounds: DataFrame,
      spectra: DataFrame, // c_id, spectrum: array<(mz,intensity)>
      adducts: Seq[AdductRow],
      tolDa: Double = 0.001,
      ms2TolMDa: Double = 100.0,
      useJaccard: Boolean = false,
      excludeHalogens: Boolean = true,
      watermark: String = "30 minutes",
      windowDuration: String = "10 minutes",
      bucketWidth: Double = 0.01,
      staticSide: Option[DataFrame] = None): DataFrame = {
    import graft.pickaxe.MassSearch
    val ranges = adductWindows(peaks.withWatermark("ts", watermark),
      adducts, tolDa, ppm = false, bucketWidth, col("ts"), col("ms2"))
    val staticDf = staticSide.getOrElse(
      ms2StaticSide(compounds, spectra, excludeHalogens, bucketWidth)
        .persist())
    val scoreUdf = MassSearch.spectralScoreUdf(ms2TolMDa, useJaccard)
    ranges.join(staticDf, Seq("bucket"))
      // inclusive bounds like batch ($gte/$lte — RangeJoin inclusive=true)
      .where(col("Mass") >= col("lo") && col("Mass") <= col("hi"))
      .withColumn("spectral_score", scoreUdf(col("spectrum"), col("ms2")))
      .groupBy(window(col("ts"), windowDuration), col("peak"))
      .agg(count(lit(1)).as("n_hits"),
        // batch parity: negating the numeric SCORE (not the id) makes
        // min() pick highest-score-then-smallest-id for ids of ANY
        // type; a null score coalesces to +Inf so it ranks LAST like
        // batch's orderBy(score desc) nulls-last, never first (struct
        // ordering would otherwise sort the null field before values)
        min(struct(coalesce(-col("spectral_score"),
            lit(Double.PositiveInfinity)).as("ns"), col("_id").as("id")))
          .as("m"))
      .select(col("window.start").as("bucket"), col("peak"),
        col("n_hits"),
        when(col("m.ns") === Double.PositiveInfinity, lit(null))
          .otherwise(-col("m.ns")).as("best_score"),
        col("m.id").as("best_id"))
  }

  /** Each peak (name, mz, charge) crossed with the adducts of its
    * charge, as the inclusive neutral-mass window [lo, hi] (ppm or Da
    * tolerance, adductSearch's arithmetic) with `peak`, `adduct`, the
    * `carry` columns and one row per `bucketWidth` bucket the window
    * overlaps (the stream side of the bucketed interval join).
    */
  private def adductWindows(
      peaks: DataFrame,
      adducts: Seq[AdductRow],
      tol: Double,
      ppm: Boolean,
      bucketWidth: Double,
      carry: Column*): DataFrame = {
    val spark = peaks.sparkSession
    import spark.implicits._
    val adductDf = adducts.toDF()
      .select(col("name").as("adduct"), col("mult"), col("ionMass"))
    peaks.crossJoin(broadcast(adductDf))
      .where((col("charge") === "+" && col("ionMass") > 0) ||
        (col("charge") === "-" && col("ionMass") < 0))
      .withColumn("pm", (col("mz") - col("ionMass")) / col("mult"))
      .withColumn("tol_da", if (ppm) col("pm") * tol / 1e6 else lit(tol))
      .select((col("name").as("peak") +: carry) ++ Seq(col("adduct"),
        (col("pm") - col("tol_da")).as("lo"),
        (col("pm") + col("tol_da")).as("hi")): _*)
      .withColumn("bucket", explode(sequence(
        floor(col("lo") / bucketWidth).cast("long"),
        floor(col("hi") / bucketWidth).cast("long"))))
  }

  /** Batch adductSearch's candidate predicate (metabolomics.py:231,
    * 239-241): neutral compounds and, with `excludeHalogens`, the P4
    * halogen exclusion, each row keyed by its Mass bucket. The regex is
    * the reference's own (metabolomics.py:240), quirks included: a
    * formula-final F does not match F[^e] and leaks through — batch
    * MassSearch shares the exact pattern, so parity holds on both
    * engines.
    */
  private def bucketedCandidates(
      compounds: DataFrame,
      excludeHalogens: Boolean,
      bucketWidth: Double): DataFrame = {
    val neutral = compounds.where(col("Charge") === 0)
    val cands =
      if (excludeHalogens) neutral.where(!col("Formula").rlike("F[^e]|Cl|Br"))
      else neutral
    cands.withColumn("bucket", floor(col("Mass") / bucketWidth).cast("long"))
  }
}
