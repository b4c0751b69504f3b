package graft.pickaxe

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.RangeJoin

/** The reference's metabolomics query surface (metabolomics.py):
  * mass/adduct search (3.2) and MS2 spectral scoring (3.3), Spark-first.
  *
  * The per-(peak,adduct) Mongo range `find` of the reference becomes ONE
  * lazy plan: each peak row expands into its polarity-matched adduct
  * windows (an explode of the literal adduct list) -> bucketed interval
  * join (J6) against the compound Mass column -> hit statistics (A6).
  */
object MassSearch {

  /** Default adducts (metabolomics data: [M+H]+ / [M-H]-; proton mass). */
  val defaultAdducts: Seq[AdductRow] = Seq(
    AdductRow("[M+H]+", 1.0, 1.007276),
    AdductRow("[M-H]-", 1.0, -1.007276))

  /** S9: adduct TSV (name \t mult \t mass, `#` comments). */
  def parseAdducts(lines: Seq[String]): Seq[AdductRow] =
    lines.filterNot(l => l.startsWith("#") || l.trim.isEmpty).flatMap { l =>
      val p = l.split("\t").map(_.trim)
      if (p.length < 3) None
      else Some(AdductRow(p(0), p(1).toDouble, p(2).toDouble))
    }

  /** Mass/adduct search (ms_adduct_search, metabolomics.py:867-980).
    *
    * @param compounds DataFrame with `_id`, `SMILES`, `Formula`, `Mass`,
    *                  `Charge` columns (the engine's compound table)
    * @param peaks     (name, mz, charge) rows
    * @param tol       tolerance; Da when `ppm` false, else parts-per-million
    * @return hits: peak name, adduct, compound id/SMILES + potential mass
    */
  def adductSearch(
      spark: SparkSession,
      compounds: DataFrame,
      peaks: DataFrame,
      adducts: Seq[AdductRow] = defaultAdducts,
      tol: Double = 0.001,
      ppm: Boolean = false,
      excludeHalogens: Boolean = true,
      /** logP window (min_logp, max_logp) — metabolomics.py:965 filters
        * hits to `min_logp < logP < max_logp`; logP comes from the
        * compound table's `logP` column when present, else the
        * deterministic estimator (Formula.logPEstimate).
        */
      logpRange: Option[(Double, Double)] = None,
      /** J6 bucket width — size it >= the widest tolerance window so
        * each (peak, adduct) range explodes to <= 2 bucket rows; the
        * 0.01-Da default suits the fixture's absolute tolerances,
        * ppm searches over wide mass ranges should pass ~1.0.
        */
      bucketWidth: Double = 0.01): DataFrame = {
    // potential mass per (peak, adduct): (mz - ion) / mult ± tol
    // (metabolomics.py:211-217); charge polarity must match the adduct's.
    // The adducts expand each peak row in place (explode of a literal
    // array) instead of a cross join, which plans a nested-loop join;
    // typedLit keeps the element type when the list is empty
    val ranges = peaks
      .select(col("name"), col("mz"), col("charge"),
        explode(typedLit(adducts)).as("a"))
      .where((col("charge") === "+" && col("a.ionMass") > 0) ||
        (col("charge") === "-" && col("a.ionMass") < 0))
      .withColumn("potential_mass",
        (col("mz") - col("a.ionMass")) / col("a.mult"))
      .withColumn("tol_da",
        if (ppm) col("potential_mass") * tol / 1e6 else lit(tol))
      .select(col("name").as("peak"), col("a.name").as("adduct"),
        (col("potential_mass") - col("tol_da")).as("lo"),
        (col("potential_mass") + col("tol_da")).as("hi"))
    // Project `logP` through when the input table carries it (e.g. the
    // MineSink core-compounds table): the stored value takes precedence
    // over the estimator below (metabolomics.py:965 reads the document's
    // logP field) — keep it out of the final hit schema either way.
    val candCols = Seq("_id", "SMILES", "Formula", "Mass") ++
      (if (compounds.columns.contains("logP")) Seq("logP") else Nil)
    val cands = compounds
      .where(col("Charge") === 0) // neutral compounds (metabolomics.py:231)
      .select(candCols.map(col): _*)
    val filtered =
      if (excludeHalogens) // P4: metabolomics.py:239-241
        cands.where(!col("Formula").rlike("F[^e]|Cl|Br"))
      else cands
    val logpFiltered = logpRange match {
      case None => filtered
      case Some((lo, hi)) =>
        val logpCol =
          if (filtered.columns.contains("logP")) col("logP")
          else {
            val estUdf = udf { smiles: String =>
              graft.chem.Formula.logPEstimate(
                graft.chem.Smiles.parse(smiles))
            }
            estUdf(col("SMILES"))
          }
        filtered.where(logpCol > lo && logpCol < hi)
    }
    RangeJoin.intervalJoin(logpFiltered.drop("logP"), ranges,
      "Mass", "lo", "hi",
      bucketWidth = bucketWidth,
      inclusive = true) // $gte/$lte like the reference
  }

  /** A6: per-peak hit statistics (total_hits, distinct formulas and
    * compounds, nulls not counted — metabolomics.py:245-252,391-394).
    * One shuffle on the peak, then each partition counts its peaks'
    * hits in one pass. As an aggregation the two distinct counts need
    * either an Expand and a second aggregation (countDistinct) or an
    * interpreted object aggregate (collect_set), both of which generate
    * several times the classes of this plan.
    */
  def peakStats(hits: DataFrame): DataFrame = {
    import hits.sparkSession.implicits._
    // the adduct rides along unused: it keeps the adduct windows' stage
    // of the hits' plan the same generated class as the one a query of
    // the hits (peak, adduct, compound) compiles
    hits.select("peak", "adduct", "Formula", "_id")
      .as[(String, String, String, String)]
      .repartition(col("peak"))
      .mapPartitions { rows =>
        rows.toSeq.groupBy(_._1).iterator.map { case (peak, hs) =>
          (peak, hs.size.toLong,
            hs.flatMap(h => Option(h._3)).distinct.size.toLong,
            hs.flatMap(h => Option(h._4)).distinct.size.toLong)
        }
      }
      .toDF("peak", "total_hits", "n_formulas", "n_compounds")
  }

  /** A11/J10: spectral similarity between two (mz, intensity) lists with
    * ±tol both-advance merge — the reference's _approximate_matches +
    * dot_product (metabolomics.py:404-514) as one deterministic kernel.
    */
  def spectralDot(
      a: Seq[(Double, Double)],
      b: Seq[(Double, Double)],
      tol: Double): Double = {
    val sa = a.sortBy(_._1); val sb = b.sortBy(_._1)
    var i = 0; var j = 0
    var z = 0.0; var na = 0.0; var nb = 0.0
    sa.foreach(t => na += t._2 * t._2)
    sb.foreach(t => nb += t._2 * t._2)
    while (i < sa.length && j < sb.length) {
      val d = sa(i)._1 - sb(j)._1
      if (math.abs(d) <= tol) { z += sa(i)._2 * sb(j)._2; i += 1; j += 1 }
      else if (d < 0) i += 1
      else j += 1
    }
    if (na == 0 || nb == 0) 0.0 else z / math.sqrt(na * nb)
  }

  /** Spectral Jaccard (metabolomics.py:435-460). */
  def spectralJaccard(
      a: Seq[(Double, Double)],
      b: Seq[(Double, Double)],
      tol: Double): Double = {
    val sa = a.map(_._1).sorted; val sb = b.map(_._1).sorted
    var i = 0; var j = 0; var inter = 0
    while (i < sa.length && j < sb.length) {
      val d = sa(i) - sb(j)
      if (math.abs(d) <= tol) { inter += 1; i += 1; j += 1 }
      else if (d < 0) i += 1
      else j += 1
    }
    val union = sa.length + sb.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** The one spectral-scoring UDF — shared by batch ms2Search and the
    * streaming peak feed ([[graft.streaming.StreamingOps.ms2ScoreStream]])
    * so the mDa/1000
    * conversion, jaccard-vs-dot dispatch, and the score*1000 scale
    * (metabolomics.py:675) can never diverge between the two.
    */
  def spectralScoreUdf(
      ms2TolMDa: Double,
      useJaccard: Boolean): org.apache.spark.sql.expressions
        .UserDefinedFunction =
    udf {
      (a: Seq[org.apache.spark.sql.Row], b: Seq[org.apache.spark.sql.Row]) =>
        val sa = a.map(r => (r.getDouble(0), r.getDouble(1)))
        val sb = b.map(r => (r.getDouble(0), r.getDouble(1)))
        val t = ms2TolMDa / 1000.0
        val s = if (useJaccard) spectralJaccard(sa, sb, t)
          else spectralDot(sa, sb, t)
        math.round(s * 1000).toDouble
    }

  /** MS2 spectral search end to end (ms2_search, metabolomics.py:
    * 983-1135 / §3.3): adduct-window annotation (J6) -> per-isomer
    * spectral scoring against a spectra table (J10/A11, tolerance in
    * mDa like the reference's /1000 at :1098) -> per-peak rank (W4).
    *
    * @param spectra  (c_id, spectrum: array of (mz, intensity) structs)
    * @param peaksMs2 (name, mz, charge, ms2: same struct array)
    */
  def ms2Search(
      spark: SparkSession,
      compounds: DataFrame,
      peaksMs2: DataFrame,
      spectra: DataFrame,
      adducts: Seq[AdductRow] = defaultAdducts,
      tol: Double = 0.001,
      ppm: Boolean = false,
      ms2TolMDa: Double = 100.0,
      useJaccard: Boolean = false): DataFrame = {
    import spark.implicits._
    val hits = adductSearch(spark, compounds,
      peaksMs2.select("name", "mz", "charge"), adducts, tol, ppm)
    val scoreUdf = spectralScoreUdf(ms2TolMDa, useJaccard)
    // W4: rank() over (partition by peak order by spectral_score desc,
    // _id asc), as one shuffle on the peak and a rank per peak in each
    // partition, like peakStats: a window plans a sort stage, a stage
    // after it and interpreted projections, several times the
    // generated classes of this plan
    hits
      .join(spectra.withColumnRenamed("c_id", "_id"), Seq("_id"))
      .join(peaksMs2.select(col("name").as("peak"), col("ms2")), Seq("peak"))
      .select(col("peak"), col("adduct"), col("_id"), col("SMILES"),
        scoreUdf(col("spectrum"), col("ms2")).as("spectral_score"))
      .as[(String, String, String, String, Double)]
      .repartition(col("peak"))
      .mapPartitions { rows =>
        rows.toSeq.groupBy(_._1).iterator.flatMap { case (_, hs) =>
          val sorted = hs.sortWith { (a, b) =>
            val c = compareScores(a._5, b._5)
            if (c != 0) c > 0 else compareIds(a._3, b._3) < 0
          }
          // tied rows (same score and compound) share a rank; the next
          // row's rank counts every row before it
          var rank = 0
          sorted.indices.map { i =>
            val h = sorted(i)
            if (i == 0 || compareScores(h._5, sorted(i - 1)._5) != 0 ||
              compareIds(h._3, sorted(i - 1)._3) != 0) rank = i + 1
            (h._1, h._2, h._3, h._4, h._5, rank)
          }
        }
      }
      .toDF("peak", "adduct", "_id", "SMILES", "spectral_score", "rank")
  }

  /** Spark's order of doubles: -0.0 equals 0.0, NaN is the largest. */
  private def compareScores(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Spark's order of strings: by UTF-8 bytes. */
  private def compareIds(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Likelihood scoring (score_compounds, metabolomics.py:1209-1269):
    * 0.75 for native-set members, 0.25 base for derived compounds.
    */
  def scoreCompounds(hits: DataFrame, nativeIds: DataFrame): DataFrame =
    hits.join(nativeIds.select(col("_id")).withColumn("native", lit(true)),
        Seq("_id"), "left")
      .withColumn("likelihood_score",
        when(col("native"), 0.75).otherwise(0.25))
      .drop("native")
}
