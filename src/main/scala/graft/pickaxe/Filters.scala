package graft.pickaxe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.chem.{Formula, Smiles}
import graft.operators.Sampling

/** Per-generation frontier filters (reference `filters` package, SURVEY §2.9).
  * Each returns the `_id`s whose Expand flag is cleared — pure
  * DataFrame -> DataFrame combinators, applied in declaration order.
  */

/** MW window filter (filters/property.py MWFilter): block frontier
  * compounds outside [minMass, maxMass] Da.
  */
final case class MolWeightFilter(
    minMass: Double = 0.0,
    maxMass: Double = Double.MaxValue) extends NetworkFilter {
  override def name = s"MW [$minMass,$maxMass]"
  override def blocked(state: NetworkState): DataFrame =
    state.compounds
      .where(col("Generation") === state.generation && col("Expand"))
      .where(col("Mass") < minMass || col("Mass") > maxMass)
      .select("_id")
}

/** Atomic-composition filter (filters/property.py AtomicCompositionFilter):
  * per-element allowed count ranges, computed from the Formula column.
  */
final case class AtomCompositionFilter(
    ranges: Map[String, (Int, Int)]) extends NetworkFilter {
  override def name = s"AtomComposition $ranges"
  override def blocked(state: NetworkState): DataFrame = {
    val okUdf = udf { formula: String =>
      val counts = Formula.parseFormula(formula)
      ranges.forall { case (e, (lo, hi)) =>
        val k = counts.getOrElse(e, 0); k >= lo && k <= hi
      }
    }
    state.compounds
      .where(col("Generation") === state.generation && col("Expand"))
      .where(!okUdf(col("Formula")))
      .select("_id")
  }
}

/** Tanimoto similarity-cutoff filter (filters/similarity.py
  * SimilarityFilter): block compounds whose max fingerprint similarity
  * to ANY target is below the per-generation threshold
  * (crit[min(gen, len-1)], similarity.py:610-616 — W7).
  *
  * `fingerprintMethod`: "rdkit" (default — `graft.chem.RdkFp`, the
  * bond-subgraph RDKFingerprint replica rebuilt from the public
  * algorithm and grid-calibrated against the reference's filter count
  * pins; "rdkit-exact:PSDW" selects an uncalibrated hash variant for
  * calibration runs), "morgan" (similarity.py:117-121's Morgan
  * option — `graft.chem.Morgan` folded bits, which ARE bit-identical
  * to RDKit's GetMorganFingerprintAsBitVect, so Morgan Tanimoto
  * values match the reference exactly), or "path" (the legacy shaped
  * path fingerprint kept for continuity of older calibrations).
  *
  * `increasingSimilarity` (W8, similarity.py:661-667): additionally
  * kill frontier compounds whose similarity DROPPED relative to their
  * parent — "only keep compounds whose similarity score is higher than
  * its parent" (the class docstring, similarity.py:533-535). The
  * shipped reference initializes the memo under the old key
  * (`last_tani`, pickaxe.py:550 / reactions.py:160) but reads
  * `last_similarity`, so its increasing path raises KeyError as of
  * v2.2.0 and is only ever tested with the flag off
  * (test_filters.py:50-116); we implement the documented intent
  * STATELESSLY from the reaction graph: a generation-g compound
  * survives the gate iff its max target similarity is >= the
  * similarity of at least one parent (the non-cofactor reactants of
  * any reaction producing it) — i.e. similarity is non-decreasing
  * along at least one lineage, which is exactly what an inherited
  * `last_similarity` memo enforces. Generation-0 compounds have no
  * parents and always pass the gate (memo starts at 0).
  *
  * Scale shape: the gate adds one explode of the generation's NEW
  * reactions + one hash join back to compounds for parent SMILES + a
  * min-combine per child — all keyed on content ids, no all-pairs
  * stage; target fingerprints stay a broadcast-sized local array.
  */
final case class TanimotoCutoffFilter(
    targetSmiles: Seq[String],
    thresholds: Seq[Double],
    fingerprintMethod: String = "rdkit",
    morganRadius: Int = 2,
    morganBits: Int = 2048,
    increasingSimilarity: Boolean = false) extends NetworkFilter {
  override def name = s"TanimotoCutoff $thresholds"
  override def targetIds: Seq[String] =
    targetSmiles.flatMap(graft.chem.Chem.standardize(_))
      .map(s => graft.chem.Chem.compoundHash(s, 'C'))
  private def fp(smiles: String): Array[Int] =
    fingerprintMethod match {
      case "morgan" =>
        graft.chem.Morgan.foldedBits(Smiles.parse(smiles),
          morganRadius, morganBits).toArray.sorted
      case "path" => Formula.fingerprint(Smiles.parse(smiles))
      case "rdkit" | "rdkit-exact" =>
        graft.chem.RdkFp.bits(Smiles.parse(smiles))
      case m if m.startsWith("rdkit-exact:") =>
        // "rdkit-exact:pswd" (pack digit, smallFirst, drawMod, seed32
        // as 0/1 flags) selects a hash variant for calibration runs
        val spec = m.substring("rdkit-exact:".length)
        require(spec.length == 4 && spec.forall(_.isDigit),
          s"malformed rdkit-exact variant spec: '$m'")
        graft.chem.RdkFp.bits(Smiles.parse(smiles),
          variant = graft.chem.RdkFp.Variant(
            pack = spec(0) - '0',
            smallFirst = spec(1) == '1',
            drawMod = spec(2) == '1',
            seed32 = spec(3) == '1'))
      case m => sys.error(s"unknown fingerprintMethod: '$m' " +
        "(expected rdkit, rdkit-exact[:pswd], morgan, or path)")
    }
  override def blocked(state: NetworkState): DataFrame = {
    import graft.expressions.BitTanimoto
    // packed-bitset fingerprints: popcount AND/OR beats set intersection
    val nb = if (fingerprintMethod == "morgan") morganBits else 2048
    val mkFp = fp _
    val targetFps = targetSmiles.map(s => BitTanimoto.pack(mkFp(s), nb))
    val crit = thresholds(math.min(state.generation, thresholds.length - 1))
    val frontier = state.compounds
      .where(col("Generation") === state.generation && col("Expand") &&
        !col("Type").isin("Coreactant", "Target Compound"))
    if (!increasingSimilarity) {
      val okUdf = udf { smiles: String =>
        val f = BitTanimoto.pack(mkFp(smiles), nb)
        // short-circuits at the threshold like similarity.py:761-763
        targetFps.exists(t => BitTanimoto.tanimoto(f, t) >= crit)
      }
      frontier.where(!okUdf(col("SMILES"))).select("_id")
    } else {
      // full max-similarity values: the gate compares child vs parent,
      // so the threshold short-circuit no longer applies
      val simUdf = udf { smiles: String =>
        val f = BitTanimoto.pack(mkFp(smiles), nb)
        if (targetFps.isEmpty) 0.0
        else targetFps.map(t => BitTanimoto.tanimoto(f, t)).max
      }
      val scored = frontier
        .select(col("_id"), simUdf(col("SMILES")).as("__sim"))
      // child -> non-cofactor parent edges from the reactions that
      // produce the frontier (J2-shaped explode, id-keyed joins only)
      val edges = state.reactions
        .select(explode(col("Products")).as("p"), col("Reactants"))
        .select(col("p.c_id").as("_id"),
          explode(col("Reactants")).as("r"))
        .select(col("_id"), col("r.c_id").as("__parent"))
        .where(col("__parent").startsWith("C") &&
          col("__parent") =!= col("_id"))
      val parentSim = edges
        .join(scored.select("_id"), Seq("_id"), "left_semi")
        .join(state.compounds
            .select(col("_id").as("__parent"),
              col("SMILES").as("__psmiles")),
          Seq("__parent"))
        .select(col("_id"), simUdf(col("__psmiles")).as("__psim"))
        // survive iff sim >= similarity of SOME parent: compare
        // against the min over parents (min is exactly order-
        // independent on doubles — hash-stable)
        .groupBy("_id").agg(min("__psim").as("__min_parent_sim"))
      scored.join(parentSim, Seq("_id"), "left")
        .where(col("__sim") < crit ||
          (col("__min_parent_sim").isNotNull &&
            col("__sim") < col("__min_parent_sim")))
        .select("_id")
    }
  }
}

/** MCS filter (filters/mcs.py): block frontier compounds whose best
  * MCS score vs any target — (atoms+bonds)_mcs / (atoms+bonds)_target,
  * similarity.py:959-974 — is below the per-generation threshold.
  * Bounded-search MCS kernel (chem.MCS); exact on small molecules.
  */
final case class MCSFilter(
    targetSmiles: Seq[String],
    thresholds: Seq[Double],
    budget: Int = 20000) extends NetworkFilter {
  override def name = s"MCS $thresholds"
  override def targetIds: Seq[String] =
    targetSmiles.flatMap(graft.chem.Chem.standardize(_))
      .map(s => graft.chem.Chem.compoundHash(s, 'C'))
  override def blocked(state: NetworkState): DataFrame = {
    val targets = targetSmiles.map(Smiles.parse)
    val crit = thresholds(math.min(state.generation, thresholds.length - 1))
    val okUdf = udf { smiles: String =>
      val m = Smiles.parse(smiles)
      targets.exists(t => graft.chem.MCS.mcsScore(m, t, budget) >= crit)
    }
    state.compounds
      .where(col("Generation") === state.generation && col("Expand") &&
        !col("Type").isin("Coreactant", "Target Compound"))
      .where(!okUdf(col("SMILES")))
      .select("_id")
  }
}

/** Weighted similarity sampling filter (filters/similarity.py
  * SimilaritySamplingFilter, D8): keep a weighted sample of N frontier
  * compounds, weight = maxSim^4, via the deterministic exponential-clocks
  * top-k (Sampling.weightedSample) instead of the reference's
  * nondeterministic inverse-CDF loop.
  */
final case class TanimotoSamplingFilter(
    targetSmiles: Seq[String],
    sampleSize: Int,
    minSim: Double = 0.15,
    fingerprintMethod: String = "rdkit",
    // same folded hash space as TanimotoCutoffFilter (RDKit's
    // GetMorganFingerprintAsBitVect default) so the two filters score a
    // given pair identically
    morganRadius: Int = 2,
    morganBits: Int = 2048) extends NetworkFilter {
  override def name = s"TanimotoSampling n=$sampleSize"
  override def targetIds: Seq[String] =
    targetSmiles.flatMap(graft.chem.Chem.standardize(_))
      .map(s => graft.chem.Chem.compoundHash(s, 'C'))
  private def fp(smiles: String): Array[Int] = fingerprintMethod match {
    case "morgan" =>
      graft.chem.Morgan.foldedBits(Smiles.parse(smiles),
        morganRadius, morganBits).toArray.sorted
    case "path" => Formula.fingerprint(Smiles.parse(smiles))
    case "rdkit" => graft.chem.RdkFp.bits(Smiles.parse(smiles))
    case m => sys.error(s"unknown fingerprintMethod: '$m' " +
      "(expected rdkit, morgan, or path)")
  }
  override def blocked(state: NetworkState): DataFrame = {
    import graft.expressions.BitTanimoto
    // pack at the fingerprint's own bit space (like TanimotoCutoffFilter)
    // — packing morganBits > 2048 at the 2048 default would fold bits
    val nb = if (fingerprintMethod == "morgan") morganBits else 2048
    val mkFp = fp _
    val targetFps = targetSmiles.map(s => BitTanimoto.pack(mkFp(s), nb))
    val simUdf = udf { smiles: String =>
      val f = BitTanimoto.pack(mkFp(smiles), nb)
      targetFps.map(t => BitTanimoto.tanimoto(f, t)).maxOption.getOrElse(0.0)
    }
    val frontier = state.compounds
      .where(col("Generation") === state.generation && col("Expand") &&
        !col("Type").isin("Coreactant", "Target Compound"))
      .withColumn("maxsim", simUdf(col("SMILES")))
    val eligible = frontier.where(col("maxsim") > minSim)
    val kept = Sampling.weightedSample(
      eligible, pow(col("maxsim"), 4.0), col("_id"), sampleSize)
    frontier.select("_id")
      .join(kept.select("_id"), Seq("_id"), "left_anti")
  }
}

/** Metabolomics-guided expansion filter (filters/metabolomics.py:28-399):
  * a generation's compounds whose exact mass falls in NO enumerated peak
  * window are blocked AND removed from the network (the reference's
  * `_apply_filter_results` cascade — `removes = true`).
  *
  * Semantics mirrored from the reference:
  *  - only UNKNOWN peaks (no annotated structure) enumerate mass windows
  *    (metabolomics.py:144-163);
  *  - peak polarity selects the adduct list; window = (mz - ion)/mult
  *    ± tol with STRICT bounds (metabolomics.py:620-633, :306);
  *  - no charge/halogen restriction (unlike ms_adduct_search);
  *  - generation 0 is never filtered (metabolomics.py:183-184);
  *  - matched compounds carry Matched_Peak_IDs / Matched_Adducts
  *    (via `annotate`).
  * The RT-predictor branch (sklearn model) is out of scope — no model
  * artifact ships with the reference; `rtThreshold` is accepted but a
  * predictor hook must be supplied to activate it.
  */
final case class MetabolomicsFilter(
    peaks: Seq[PeakRow], // unknown peaks only — see parsePeaksCsv
    adducts: Seq[AdductRow] = MassSearch.defaultAdducts,
    tol: Double = 0.001,
    rtPredictor: Option[String => Option[Double]] = None,
    rtThreshold: Option[Double] = None) extends NetworkFilter {

  override def name = s"Metabolomics tol=$tol"
  override def removes = true

  /** (lo, hi, peakId, adduct) windows — peaks x polarity-matched adducts
    * (Peak._enumerate_possible_masses).
    */
  lazy val ranges: Seq[(Double, Double, String, String)] =
    for {
      p <- peaks
      a <- adducts
      if (p.charge == "+" && a.ionMass > 0) ||
        (p.charge == "-" && a.ionMass < 0)
      m = (p.mz - a.ionMass) / a.mult
    } yield (m - tol, m + tol, p.name, a.name)

  private def rtOk(peakId: String): org.apache.spark.sql.Column =
    (rtPredictor, rtThreshold) match {
      case (Some(pred), Some(thr)) =>
        val rt = peaks.find(_.name == peakId)
          .map(_.r_time).getOrElse(Double.NaN)
        val rtUdf = udf { smiles: String =>
          pred(smiles).exists(p => math.abs(rt - p) <= thr)
        }
        rtUdf(col("SMILES"))
      case _ => lit(true)
    }

  private def inWindow(lo: Double, hi: Double) =
    col("Mass") > lo && col("Mass") < hi

  /** Adds Matched_Peak_IDs / Matched_Adducts arrays (in range-enumeration
    * order, like the reference's append loop at metabolomics.py:327-331).
    */
  def annotate(compounds: DataFrame): DataFrame = {
    def arr(pick: ((Double, Double, String, String)) => String) =
      filter(
        array(ranges.map { r =>
          when(inWindow(r._1, r._2) && rtOk(r._3), lit(pick(r)))
        }: _*),
        _.isNotNull)
    compounds
      .withColumn("Matched_Peak_IDs", arr(_._3))
      .withColumn("Matched_Adducts", arr(_._4))
  }

  override def blocked(state: NetworkState): DataFrame = {
    if (state.generation == 0)
      return state.compounds.select("_id").limit(0)
    // note: no Expand predicate — the reference checks every gen-g
    // compound, already-unexpandable ones included (metabolomics.py:190)
    val eligible = state.compounds
      .where(col("Generation") === state.generation &&
        !col("Type").isin("Coreactant", "Target Compound"))
    if (ranges.size <= 64 || rtPredicate.isDefined) {
      // few windows (or RT gating): one codegen'd OR-chain predicate
      val matched = ranges
        .map(r => inWindow(r._1, r._2) && rtOk(r._3))
        .reduceOption(_ || _).getOrElse(lit(false))
      eligible.where(!matched).select("_id")
    } else {
      // SCALE PATH: a production peak list has thousands of windows — an
      // OR-chain that long breaks whole-stage codegen. Use the bucketed
      // interval join (J6) instead: windows become a small broadcast
      // range table, candidates come from an equi-join on mass buckets.
      val spark = state.compounds.sparkSession
      import spark.implicits._
      val rangeDf = ranges.map(r => (r._1, r._2)).toDF("lo", "hi")
      val matched = graft.operators.RangeJoin.intervalJoin(
        eligible.select("_id", "Mass"), rangeDf, "Mass", "lo", "hi",
        bucketWidth = math.max(2 * tol, 1e-6), inclusive = false)
        .select("_id").distinct()
      eligible.select("_id").join(matched, Seq("_id"), "left_anti")
    }
  }

  private def rtPredicate: Option[Unit] =
    (rtPredictor, rtThreshold) match {
      case (Some(_), Some(_)) => Some(())
      case _ => None
    }
}

/** Every reaction member as one row — `_id`, `side` ('r' or 'p'),
  * `stoich`, the member's `SMILES`, and `genC`: the member is a
  * current-generation compound that is neither a coreactant nor a
  * target. The reaction filters score a reaction only when one of its
  * products is such a compound; `checked` selects those reactions
  * inside the same regroup that collects the members, so no separate
  * selection pass and semi-join runs.
  */
private[pickaxe] object ReactionMembers {
  def apply(state: NetworkState): DataFrame = {
    val g = state.generation
    // the generation test is a UDF, not `col("Generation") === g`: Spark
    // writes an int literal into the generated Java source, so every
    // generation would compile its own copy of the stage
    val ofGen = udf((gen: Int) => gen == g)
    val compounds = state.compounds.select(col("_id").as("c_id"),
      col("SMILES"),
      (ofGen(col("Generation")) &&
        !col("Type").isin("Coreactant", "Target Compound")).as("genC"))
    // the side follows from the member's position in Reactants ++
    // Products; a `transform` lambda tagging each member would be an
    // interpreted expression, which keeps the explode out of generated
    // code and splits the plan into one more stage
    state.reactions
      .select(col("_id"), size(col("Reactants")).as("nr"),
        posexplode(concat(col("Reactants"), col("Products"))))
      .join(compounds, col("col.c_id") === col("c_id"))
      .select(col("_id"),
        when(col("pos") < col("nr"), lit("r")).otherwise(lit("p")).as("side"),
        col("col.stoich").as("stoich"), col("SMILES"), col("genC"))
  }

  /** Aggregate: does the reaction produce a `genC` compound? */
  val checked: Column =
    max(col("side") === "p" && col("genC")).as("checked")
}

/** Thermodynamic filter (filters/thermodynamics.py:17-160): reactions
  * producing a current-generation compound whose ΔGr >= `dgMax` kJ/mol
  * are DELETED (with the orphan cascade). The reference computes ΔG via
  * eQuilibrator under (pH, I, pMg) or physiological defaults; the
  * condition parameters are carried and the per-molecule energy model is
  * pluggable (`Thermo.bondEnergyEstimate` deterministic stub by default —
  * no eQuilibrator cache ships with the container).
  */
final case class ThermoFilter(
    dgMax: Double = 0.0,
    pH: Double = 7.0,
    ionicStrength: Double = 0.0,
    pMg: Double = 3.0,
    physiological: Boolean = false,
    generationList: Seq[Int] = Nil,
    lastGenerationOnly: Boolean = false,
    totalGenerations: Int = Int.MaxValue,
    model: graft.chem.Molecule => Double = Thermo.bondEnergyEstimate)
    extends NetworkFilter {

  override def name = s"Thermo dgMax=$dgMax pH=$pH I=$ionicStrength pMg=$pMg"
  override def removes = false // thermo blocks nothing compound-side
  override def deletesReactions = true

  override def blocked(state: NetworkState): DataFrame =
    state.compounds.select("_id").limit(0)

  override def blockedReactions(state: NetworkState): DataFrame = {
    val g = state.generation
    // generation gates (thermodynamics.py:119-125)
    if ((lastGenerationOnly && g != totalGenerations) ||
      (generationList.nonEmpty && !generationList.contains(g - 1)))
      return state.reactions.select("_id").limit(0)
    val mdl = model
    val energy = udf { smiles: String => mdl(graft.chem.Smiles.parse(smiles)) }
    // Thermo.deltaG is additive: Σ reactant ν·model − Σ product ν·model.
    // Summing one term per member keeps the regroup a codegen'd hash
    // aggregate; collecting the members into lists for a UDF would not
    def sideSum(side: String) = coalesce(
      sum(when(col("side") === side, col("stoich") * energy(col("SMILES")))),
      lit(0.0))
    ReactionMembers(state)
      .groupBy("_id")
      .agg((sideSum("r") - sideSum("p")).as("dg"), ReactionMembers.checked)
      .where(col("checked") && col("dg") >= dgMax) // thermodynamics.py:157-159
      .select("_id")
  }
}

object ThermoFilter {

  /** Component-contribution mode (thermodynamics.py:146-159 with the
    * dg_prime(p_h, ionic_strength, p_mg) path): per-molecule
    * Legendre-transformed group-contribution formation energies, so the
    * reaction energy is Σν·∆G′f(products) − Σν·∆G′f(reactants).
    * `Thermo.deltaG` sums the pluggable model reactants-minus-products
    * (the bond-ENERGY sign convention), so the formation model is
    * passed negated — the two flips compose to the formation-energy
    * convention.
    */
  def componentContribution(
      dgMax: Double = 0.0,
      pH: Double = 7.0,
      ionicStrength: Double = 0.25,
      pMg: Double = 14.0,
      generationList: Seq[Int] = Nil,
      lastGenerationOnly: Boolean = false,
      totalGenerations: Int = Int.MaxValue): ThermoFilter = {
    val f = graft.chem.Thermodynamics
      .transformedFormation(pH, ionicStrength, pMg)
    ThermoFilter(dgMax, pH, ionicStrength, pMg,
      physiological = false, generationList, lastGenerationOnly,
      totalGenerations, model = m => -f(m))
  }
}

/** Reaction-feasibility filter (filters/feasibility.py:102-240): a
  * pluggable per-reaction feasibility scorer gates reactions at the
  * reference's 0.32 threshold (feasibility.py:144); infeasible reactions
  * are deleted with the orphan cascade. The reference's scorer is an
  * external trained model (Biotechnol J 2021, 16:e2000605) that does not
  * ship with the repo — the default stub is a deterministic md5-derived
  * pseudo-score over the reaction equation, making the wiring and
  * threshold semantics real while the model is swappable. A real model
  * can consume RDKit-identical input features: the reference's
  * 1024-bit Morgan feature vectors (feasibility.py:371,380) are
  * reproduced exactly by `graft.chem.Morgan.foldedBits(m, 2, 1024)`
  * (bit parity verified via NPScoreParitySpec's raw-id pins).
  */
final case class FeasibilityFilter(
    scorer: (Seq[String], Seq[String]) => Double =
      FeasibilityFilter.deterministicStub,
    threshold: Double = 0.32,
    useUnpredicted: Boolean = false,
    generationList: Seq[Int] = Nil,
    lastGenerationOnly: Boolean = false,
    totalGenerations: Int = Int.MaxValue) extends NetworkFilter {

  override def name = s"Feasibility threshold=$threshold"
  override def removes = false
  override def deletesReactions = true

  override def blocked(state: NetworkState): DataFrame =
    state.compounds.select("_id").limit(0)

  override def blockedReactions(state: NetworkState): DataFrame = {
    val g = state.generation
    if ((lastGenerationOnly && g != totalGenerations) ||
      (generationList.nonEmpty && !generationList.contains(g - 1)))
      return state.reactions.select("_id").limit(0)
    val sc = scorer
    val thr = threshold
    val scoreUdf = udf { (reac: Seq[String], prod: Seq[String]) =>
      sc(reac, prod)
    }
    ReactionMembers(state)
      .groupBy("_id")
      .agg(
        array_sort(collect_list(when(col("side") === "r", col("SMILES"))))
          .as("Reactants"),
        array_sort(collect_list(when(col("side") === "p", col("SMILES"))))
          .as("Products"),
        ReactionMembers.checked)
      .where(col("checked"))
      .withColumn("score", scoreUdf(col("Reactants"), col("Products")))
      .where(col("score") < thr)
      .select("_id")
  }
}

object FeasibilityFilter {
  /** Deterministic stand-in for the trained feasibility model: uniform
    * [0,1) from the md5 of the sorted reaction equation.
    */
  def deterministicStub(reactants: Seq[String], products: Seq[String]): Double = {
    val eq = reactants.sorted.mkString("+") + ">>" + products.sorted.mkString("+")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(eq.getBytes("UTF-8"))
    val x = java.lang.Long.parseLong(graft.chem.Chem.hex(md.take(7)), 16)
    x.toDouble / math.pow(16, 14)
  }
}

object MetabolomicsFilter {

  /** Peak-list CSV loader (filters/metabolomics.py:118-146): columns
    * `Peak ID, Retention Time, Aggregate M/Z, Polarity, ...,
    * Predicted Structure (smiles), ...`. Returns (unknown, known) —
    * peaks WITH a predicted structure are "known" and excluded from
    * window enumeration.
    */
  def parsePeaksCsv(lines: Seq[String]): (Seq[PeakRow], Seq[(PeakRow, String)]) = {
    val header = lines.head.split(",").map(_.trim).zipWithIndex.toMap
    def idx(n: String) = header.getOrElse(n,
      sys.error(s"peak CSV missing column '$n'"))
    val rows = lines.tail.filter(_.trim.nonEmpty).map { l =>
      val p = l.split(",", -1).map(_.trim)
      val smiles = header.get("Predicted Structure (smiles)")
        .map(p(_)).getOrElse("")
      (PeakRow(p(idx("Peak ID")), p(idx("Retention Time")).toDouble,
        p(idx("Aggregate M/Z")).toDouble, p(idx("Polarity")), Nil), smiles)
    }
    (rows.filter(_._2.isEmpty).map(_._1), rows.filter(_._2.nonEmpty))
  }
}
