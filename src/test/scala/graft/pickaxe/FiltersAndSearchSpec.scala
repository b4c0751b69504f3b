package graft.pickaxe

import org.apache.spark.sql.functions._

import graft.SparkSuite

class FiltersAndSearchSpec extends SparkSuite {
  import spark.implicits._

  private val atp = "Nc1ncnc2c1ncn2C1OC(COP(=O)(O)OP(=O)(O)OP(=O)(O)O)C(O)C1O"
  private val adp = "Nc1ncnc2c1ncn2C1OC(COP(=O)(O)OP(=O)(O)O)C(O)C1O"
  private val fadh = "Cc1cc2c(cc1C)N(CC(O)C(O)C(O)COP(=O)(O)OP(=O)(O)OCC1OC" +
    "(n3cnc4c(N)ncnc43)C(O)C1O)c1nc(O)nc(O)c1N2"
  private val rule = "[#6;H2D4:8][#8;H0D2:7][#15;H0D4:6][#8;H0D2:5]" +
    "[#15;H0D4:4][#8;H0D2:3][#15;H0D4:2][#8;H1D2R0:1]." +
    "[#1;D1R0:11][#8;H1D2R0:10][#6:9]>>" +
    "[*:1]-[*:2]-[*:10]-[*:9].[*:8]-[*:7]-[*:6]-[*:5]-[*:4]-[*:3]-[*:11]"

  private lazy val engine = {
    val core = PickaxeEngine.parseCoreactants(Seq(
      s"ATP\tATP\t$atp", s"ADP\tADP\t$adp"))
    new PickaxeEngine(spark,
      PickaxeEngine.parseRules(Seq(s"2.7.1.a\tATP;Any\t$rule\tAny;ADP\t-"),
        core), core, explicitH = true)
  }

  test("MW filter blocks out-of-window frontier compounds entirely") {
    // FADH mass ~786; blocking below 10000 stops all expansion
    val st = engine.run(Seq(fadh), 1,
      filters = Seq(MolWeightFilter(maxMass = 100.0)))
    assert(st.reactions.count() === 0)
    val st2 = engine.run(Seq(fadh), 1,
      filters = Seq(MolWeightFilter(maxMass = 10000.0)))
    assert(st2.reactions.count() > 0)
  }

  test("atom-composition filter") {
    val st = engine.run(Seq(fadh), 1,
      filters = Seq(AtomCompositionFilter(Map("P" -> (0, 0)))))
    assert(st.reactions.count() === 0) // FADH has 2 P atoms -> blocked
  }

  test("tanimoto cutoff filter: self-target passes, foreign target blocks") {
    val pass = engine.run(Seq(fadh), 1,
      filters = Seq(TanimotoCutoffFilter(Seq(fadh), Seq(0.9))))
    assert(pass.reactions.count() > 0)
    val blocked = engine.run(Seq(fadh), 1,
      filters = Seq(TanimotoCutoffFilter(Seq("CCCCCCCC"), Seq(0.9))))
    assert(blocked.reactions.count() === 0)
  }

  test("tanimoto cutoff filter, Morgan method (bit-exact RDKit space): " +
    "self-target passes, foreign target blocks") {
    val pass = engine.run(Seq(fadh), 1,
      filters = Seq(TanimotoCutoffFilter(Seq(fadh), Seq(0.9),
        fingerprintMethod = "morgan")))
    assert(pass.reactions.count() > 0)
    val blocked = engine.run(Seq(fadh), 1,
      filters = Seq(TanimotoCutoffFilter(Seq("CCCCCCCC"), Seq(0.9),
        fingerprintMethod = "morgan")))
    assert(blocked.reactions.count() === 0)
  }

  test("MCS filter: self-target passes, unrelated target blocks") {
    val pass = engine.run(Seq(fadh), 1,
      filters = Seq(MCSFilter(Seq(fadh), Seq(0.5), budget = 2000)))
    assert(pass.reactions.count() > 0)
    val blocked = engine.run(Seq(fadh), 1,
      filters = Seq(MCSFilter(Seq("CCCCCCCCCC"), Seq(0.9), budget = 2000)))
    assert(blocked.reactions.count() === 0)
  }

  test("sampling filter keeps at most N frontier compounds expanding") {
    val st1 = engine.run(Seq(fadh), 2,
      filters = Seq(TanimotoSamplingFilter(Seq(fadh), sampleSize = 3,
        minSim = 0.0)))
    val full = engine.run(Seq(fadh), 2)
    assert(st1.compounds.count() < full.compounds.count())
    assert(st1.reactions.count() > 0)
  }

  test("mass/adduct search finds the expected peak hits") {
    val st = engine.run(Seq(fadh), 1)
    // one gen-1 product: FADH + phosphate; search for its [M+H]+
    val phosphoMass = st.compounds
      .where(col("Type") === "Predicted").orderBy("Mass")
      .select("Mass").collect().map(_.getDouble(0)).head
    val peaks = Seq(("hit", phosphoMass + 1.007276, "+"),
      ("miss", 99.0, "+")).toDF("name", "mz", "charge")
    val hits = MassSearch.adductSearch(spark, st.compounds, peaks, tol = 0.001)
    val statsDf = MassSearch.peakStats(hits)
    val stats = statsDf.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats.contains("hit"))
    assert(!stats.contains("miss"))
    // every count column is a bigint
    assert(statsDf.schema.fields.drop(1).map(_.dataType).toSeq ===
      Seq.fill(3)(org.apache.spark.sql.types.LongType))
    // no adducts: no hits, with the usual hit schema
    val none = MassSearch.adductSearch(spark, st.compounds, peaks,
      adducts = Nil, tol = 0.001)
    assert(none.isEmpty)
    assert(none.schema === hits.schema)
  }

  test("ppm tolerance narrows with mass") {
    val cpds = Seq(
      ("Ca", "CC", "C2H6", 30.04695, 0)
    ).toDF("_id", "SMILES", "Formula", "Mass", "Charge")
    val peaks = Seq(("p", 30.04695 + 1.007276 + 0.0002, "+"))
      .toDF("name", "mz", "charge")
    // 10 ppm of ~30 Da = 0.0003 window -> 0.0002 offset hits;
    // 5 ppm = 0.00015 -> misses
    assert(MassSearch.adductSearch(spark, cpds, peaks, tol = 10,
      ppm = true).count() === 1)
    assert(MassSearch.adductSearch(spark, cpds, peaks, tol = 5,
      ppm = true).isEmpty)
  }

  test("logP window filters adduct-search candidates " +
    "(metabolomics.py:965)") {
    // octane (logP > 0) and sorbitol-ish polyol (logP < 0), both given
    // the same Mass so the window is the only discriminator
    val cpds = Seq(
      ("C1", "CCCCCCCC", "C8H18", 100.0, 0),
      ("C2", "OCC(O)C(O)C(O)C(O)CO", "C6H14O6", 100.0, 0))
      .toDF("_id", "SMILES", "Formula", "Mass", "Charge")
    val peaks = Seq(("p", 101.007276, "+")).toDF("name", "mz", "charge")
    val all = MassSearch.adductSearch(spark, cpds, peaks, tol = 0.01)
    assert(all.count() === 2)
    val hydrophobicOnly = MassSearch.adductSearch(spark, cpds, peaks,
      tol = 0.01, logpRange = Some((0.0, 10.0)))
    assert(hydrophobicOnly.select("_id").as[String].collect().toSeq
      === Seq("C1"))
  }

  test("stored logP column takes precedence over the estimator") {
    // Same molecules as above, but with DELIBERATELY INVERTED stored logP:
    // octane stored at -5 (estimator would say > 0), polyol stored at +5
    // (estimator would say < 0). A (0, 10) window keeping the polyol and
    // dropping octane proves the column path is live — if the estimator
    // ran instead, the result would flip back to C1.
    val cpds = Seq(
      ("C1", "CCCCCCCC", "C8H18", 100.0, 0, -5.0),
      ("C2", "OCC(O)C(O)C(O)C(O)CO", "C6H14O6", 100.0, 0, 5.0))
      .toDF("_id", "SMILES", "Formula", "Mass", "Charge", "logP")
    val peaks = Seq(("p", 101.007276, "+")).toDF("name", "mz", "charge")
    val hits = MassSearch.adductSearch(spark, cpds, peaks,
      tol = 0.01, logpRange = Some((0.0, 10.0)))
    assert(hits.select("_id").as[String].collect().toSeq === Seq("C2"))
    // hit schema stays logP-free regardless of the input carrying it
    assert(!hits.columns.contains("logP"))
  }

  test("halogen exclusion regex matches the reference semantics") {
    val cpds = Seq(
      ("C1", "CCl", "CH3Cl", 49.9923, 0),
      ("C2", "CF", "CH3F", 34.0219, 0),
      ("C3", "C[Fe]", "CH3Fe", 70.9660, 0), // Fe must NOT be excluded
      ("C4", "CC", "C2H6", 30.0470, 0))
      .toDF("_id", "SMILES", "Formula", "Mass", "Charge")
    val peaks = Seq(("p1", 51.0, "+"), ("p2", 35.03, "+"),
      ("p3", 71.97, "+"), ("p4", 31.05, "+")).toDF("name", "mz", "charge")
    val hits = MassSearch.adductSearch(spark, cpds, peaks, tol = 0.1)
      .select("_id").distinct().as[String].collect().toSet
    // the reference regex `F[^e]|Cl|Br` (metabolomics.py:240) does NOT
    // exclude a formula-final F (no char after it) — "CH3F" survives;
    // we mirror that behavior exactly
    assert(hits === Set("C2", "C3", "C4"))
  }

  test("spectral dot product and jaccard") {
    val a = Seq((100.0, 1.0), (200.0, 2.0), (300.0, 3.0))
    val b = Seq((100.001, 1.0), (200.0005, 2.0), (400.0, 1.0))
    assert(MassSearch.spectralDot(a, a, 0.01) === 1.0)
    assert(MassSearch.spectralDot(a, b, 0.01) > 0.5)
    assert(MassSearch.spectralJaccard(a, b, 0.01) === 0.5) // 2 of 4
    assert(MassSearch.spectralDot(a, b, 1e-9) === 0.0)
  }

  test("MS2 search: annotation + spectral scoring + per-peak rank") {
    val cpds = Seq(
      ("C1", "CCO", "C2H6O", 46.041865, 0),
      ("C2", "CC(C)O", "C3H8O", 60.057515, 0), // isomer-ish decoy set
      ("C3", "CCCO", "C3H8O", 60.057515, 0))
      .toDF("_id", "SMILES", "Formula", "Mass", "Charge")
    val spectra = Seq(
      ("C2", Seq((41.0, 5.0), (43.0, 10.0))),
      ("C3", Seq((31.0, 10.0), (59.0, 3.0))),
      ("C1", Seq((31.0, 8.0))))
      .toDF("c_id", "spectrum")
    // the query peak matches C2/C3's mass; its ms2 resembles C3
    val peaks = Seq(
      ("p1", 61.064791, "+", Seq((31.0005, 9.0), (59.0003, 3.5))))
      .toDF("name", "mz", "charge", "ms2")
    val out = MassSearch.ms2Search(spark, cpds, peaks, spectra, tol = 0.001)
      .orderBy("rank").collect()
    assert(out.length === 2) // C2 and C3 in the mass window; C1 not
    assert(out.head.getAs[String]("_id") === "C3") // spectral winner
    assert(out.head.getAs[Int]("rank") === 1)
    assert(out.head.getAs[Double]("spectral_score") >
      out(1).getAs[Double]("spectral_score"))
  }

  test("intermediate rule selection: prefix containment under kept rules") {
    val gen = Seq(("rule0001", 10L), ("rule0002", 5L))
      .toDF("Name", "counts")
    val inter = Seq(("rule0001_01", 7L), ("rule0001_02", 3L),
      ("rule0003_01", 9L), ("rule0002", 5L))
      .toDF("Name", "counts")
    val out = RuleSelection.intermediate(inter, gen)
      .select("Name").as[String].collect().toSeq
    assert(out === Seq("rule0001_01", "rule0002", "rule0001_02"))
  }

  test("MGF and MSP parsers") {
    val mgf = Seq("BEGIN IONS", "TITLE=Test1", "PEPMASS=430.1 123",
      "RTINSECONDS=60", "100.1 1.5", "200.2 2.5", "END IONS",
      "BEGIN IONS", "TITLE=Test2", "PEPMASS=200.0", "END IONS")
    val peaks = SpectraIO.parseMgf(mgf.iterator).toSeq
    assert(peaks.map(_.name) === Seq("Test1", "Test2"))
    assert(peaks.head.mz === 430.1)
    assert(peaks.head.ms2 === Seq((100.1, 1.5), (200.2, 2.5)))
    val msp = Seq("Name: A", "PrecursorMZ: 100.5", "Num Peaks: 2",
      "10.0 1.0; 20.0 2.0", "", "Name: B", "PrecursorMZ: 50.1")
    val peaks2 = SpectraIO.parseMsp(msp.iterator).toSeq
    assert(peaks2.map(_.name) === Seq("A", "B"))
    assert(peaks2.head.ms2.nonEmpty)
  }
}
