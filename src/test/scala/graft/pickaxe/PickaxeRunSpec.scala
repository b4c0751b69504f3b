package graft.pickaxe

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** The config-driven runner (pickaxe_run_template.py analog) drives
  * the same pinned networks as the hand-wired engine: transcribing the
  * template's knob block into PickaxeRunConfig must reproduce the
  * reference-oracle counts end to end, including the file-ingest and
  * output-sink legs.
  */
class PickaxeRunSpec extends SparkSuite {

  private val refData = "/root/reference/tests/data"
  private def present = Files.exists(Paths.get(refData))

  private val fadh = "Cc1cc2c(cc1C)N(CC(O)C(O)C(O)COP(=O)(O)OP(=O)(O)OCC1OC" +
    "(n3cnc4c(N)ncnc43)C(O)C1O)c1nc(O)nc(O)c1N2"
  private val doublePhospho = "Cc1cc2c(cc1C)N(CC(OP(=O)(O)O)C(OP(=O)(O)O)" +
    "C(O)COP(=O)(O)OP(=O)(O)OCC1OC(n3cnc4c(N)ncnc43)C(O)C1O)" +
    "c1nc(O)nc(O)c1N2"

  private val atp = "Nc1ncnc2c1ncn2C1OC(COP(=O)(O)OP(=O)(O)OP(=O)(O)O)C(O)C1O"
  private val adp = "Nc1ncnc2c1ncn2C1OC(COP(=O)(O)OP(=O)(O)O)C(O)C1O"
  private val phosphorylation = "[#6;H2D4:8][#8;H0D2:7][#15;H0D4:6]" +
    "[#8;H0D2:5][#15;H0D4:4][#8;H0D2:3][#15;H0D4:2][#8;H1D2R0:1]." +
    "[#1;D1R0:11][#8;H1D2R0:10][#6:9]>>" +
    "[*:1]-[*:2]-[*:10]-[*:9].[*:8]-[*:7]-[*:6]-[*:5]-[*:4]-[*:3]-[*:11]"

  private def tmpCsv(name: String, rows: Seq[(String, String)]): String = {
    val p = Files.createTempFile(name, ".csv")
    Files.writeString(p,
      "id,smiles\n" + rows.map { case (i, s) => s"$i,$s" }.mkString("\n"))
    p.toString
  }

  test("config run equals the hand-wired engine on the same TSVs " +
    "and writes the TSV sinks") {
    assume(present)
    // the conftest-default inputs: the FULL 2-rule TSV + the full
    // coreactant TSV (the 31/49 oracle pins the 1-rule subset through
    // q_pickaxe_expand/PickaxeSpec; here the runner's PLUMBING is the
    // subject — same loaded rules must give the identical network)
    val out = Files.createTempDirectory("pkrun").toString
    val startsCsv = tmpCsv("starts", Seq("FADH" -> fadh))
    val cfg = PickaxeRunConfig(
      rules = ExplicitTsv(
        s"$refData/test_reaction_rules.tsv",
        s"$refData/test_coreactants.tsv"),
      inputCpds = startsCsv,
      generations = 2,
      explicitH = true, // the reference fixture's pk uses explicit H
      writeTsvDir = Some(out))
    val st = PickaxeRun.execute(spark, cfg)

    val (rules, core) = PickaxeRun.loadRules(spark, cfg.rules)
    val engine = new PickaxeEngine(spark, rules, core, explicitH = true)
    val want = engine.run(Seq(fadh), generations = 2)
    import spark.implicits._
    val gotC = st.compounds.select("_id").as[String].collect().sorted
    val wantC = want.compounds.select("_id").as[String].collect().sorted
    assert(gotC.toSeq === wantC.toSeq)
    assert(st.reactions.count() === want.reactions.count())
    val nC = gotC.length.toLong
    val nR = st.reactions.count()
    // the TSV sink leg ran: both exports exist and carry data rows
    def csvLines(dir: String): Long = {
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".csv"))
        .map(p => Files.readAllLines(p).size().toLong).sum
    }
    assert(csvLines(s"$out/compounds") === nC + 1) // header + rows
    assert(csvLines(s"$out/reactions") === nR + 1)
  }

  test("config run equals the hand-wired engine on the same TSVs " +
    "and writes the TSV sinks (inline kinase fixture)") {
    def tsv(name: String, lines: Seq[String]): String = {
      val p = Files.createTempFile(name, ".tsv")
      Files.writeString(p, lines.mkString("", "\n", "\n"))
      p.toString
    }
    val out = Files.createTempDirectory("pkrun").toString
    // every compound filter runs at each generation and once more after
    // the last: the window passes everything, the phosphorus cap blocks
    // generation 2 (four phosphates) at the final pass
    val filters = Seq(MolWeightFilter(maxMass = 1e4),
      AtomCompositionFilter(Map("P" -> (0, 3))))
    val cfg = PickaxeRunConfig(
      rules = ExplicitTsv(
        tsv("rules", "Name\tReactants\tSMARTS\tProducts" +:
          KinaseFixture.ruleLines),
        tsv("coreactants", "#ID\tName\tSMILES" +:
          KinaseFixture.coreactantLines)),
      inputCpds = tmpCsv("starts", Seq("FADH" -> fadh)),
      generations = 2,
      explicitH = true,
      filters = filters,
      filterAfterFinalGen = true,
      writeTsvDir = Some(out))
    val st = PickaxeRun.execute(spark, cfg)

    val (rules, core) = PickaxeRun.loadRules(spark, cfg.rules)
    assert(rules.length === 1 && core.length === 2)
    val want = KinaseFixture.engine(spark).run(Seq(fadh), generations = 2,
      filters, filterAfterFinalGen = true)
    import spark.implicits._
    def flags(s: NetworkState) = s.compounds.select("_id", "Expand")
      .as[(String, Boolean)].collect().sorted.toSeq
    def rxns(s: NetworkState) =
      s.reactions.select("_id").as[String].collect().sorted.toSeq
    assert(flags(st) === flags(want))
    assert(rxns(st) === rxns(want))
    // the final pass removed generation 2 from the 31/49 network
    val gens = st.compounds.select("Generation").as[Int].collect()
    assert(gens.max === 1 && gens.length < 31)
    assert(rxns(st).nonEmpty && rxns(st).length < 49)
    def csvLines(dir: String): Long = {
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".csv"))
        .map(p => Files.readAllLines(p).size().toLong).sum
    }
    assert(csvLines(s"$out/compounds") === flags(st).length + 1L)
    assert(csvLines(s"$out/reactions") === rxns(st).length + 1L)
  }

  test("config run with prune_to_targets reproduces the minimal " +
    "6-compound network") {
    assume(present)
    val cfg = PickaxeRunConfig(
      rules = ExplicitTsv(
        s"$refData/test_reaction_rules.tsv",
        s"$refData/test_coreactants.tsv"),
      inputCpds = tmpCsv("starts2", Seq("FADH" -> fadh)),
      targetCpds = Some(tmpCsv("targets", Seq("T1" -> doublePhospho))),
      generations = 2,
      explicitH = true,
      pruneToTargets = true)
    val st = PickaxeRun.execute(spark, cfg)
    // plumbing parity: the config path equals pruneToTargets on the
    // hand-wired engine over the identical inputs
    val (rules, core) = PickaxeRun.loadRules(spark, cfg.rules)
    val engine = new PickaxeEngine(spark, rules, core, explicitH = true)
    val want = engine.pruneToTargets(
      engine.run(Seq(fadh), generations = 2), Seq(doublePhospho))
    import spark.implicits._
    val gotC = st.compounds.select("_id").as[String].collect().sorted
    val wantC = want.compounds.select("_id").as[String].collect().sorted
    assert(gotC.toSeq === wantC.toSeq)
    assert(st.compounds.count() === want.compounds.count())
    assert(st.reactions.count() === want.reactions.count())
    // and the pruned network still contains the target
    val tid = graft.chem.Chem.compoundHash(
      graft.chem.Chem.standardize(doublePhospho).get, 'C')
    assert(gotC.contains(tid))
  }

  test("DataFrame-seed path (initialState(df) / runFrom / " +
    "pruneToTargetsDf) is identical to the Seq path") {
    assume(present)
    val (rules, core) = PickaxeRun.loadRules(spark, ExplicitTsv(
      s"$refData/test_reaction_rules.tsv",
      s"$refData/test_coreactants.tsv"))
    val engine = new PickaxeEngine(spark, rules, core, explicitH = true)
    import spark.implicits._
    val seedDf = PickaxeEngine.loadCompoundFile(
      spark, tmpCsv("dfseed", Seq("FADH" -> fadh)))
    val got = engine.runFrom(engine.initialState(seedDf), 2)
    val want = engine.run(Seq(fadh), 2)
    assert(got.compounds.select("_id").as[String].collect().sorted.toSeq
      === want.compounds.select("_id").as[String].collect().sorted.toSeq)
    assert(got.reactions.select("_id").as[String].collect().sorted.toSeq
      === want.reactions.select("_id").as[String].collect().sorted.toSeq)
    // distributed target prune equals the Seq overload
    val tDf = PickaxeRun.loadTargetIds(
      spark, tmpCsv("dftgt", Seq("T1" -> doublePhospho)))
    val gotP = engine.pruneToTargetsDf(got, tDf)
    val wantP = engine.pruneToTargets(want, Seq(doublePhospho))
    assert(gotP.compounds.select("_id").as[String].collect().sorted.toSeq
      === wantP.compounds.select("_id").as[String].collect().sorted.toSeq)
    assert(gotP.reactions.count() === wantP.reactions.count())
  }

  test("DataFrame-seed path (initialState(df) / runFrom / " +
    "pruneToTargetsDf) is identical to the Seq path (inline kinase " +
    "fixture)") {
    val engine = KinaseFixture.engine(spark)
    import spark.implicits._
    val seedDf = PickaxeEngine.loadCompoundFile(
      spark, tmpCsv("dfseed", Seq("FADH" -> fadh)))
    val got = engine.runFrom(engine.initialState(seedDf), 2)
    val want = engine.run(Seq(fadh), 2)
    assert(got.compounds.select("_id").as[String].collect().sorted.toSeq
      === want.compounds.select("_id").as[String].collect().sorted.toSeq)
    assert(got.reactions.select("_id").as[String].collect().sorted.toSeq
      === want.reactions.select("_id").as[String].collect().sorted.toSeq)
    // distributed target prune equals the Seq overload
    val tDf = PickaxeRun.loadTargetIds(
      spark, tmpCsv("dftgt", Seq("T1" -> doublePhospho)))
    val gotP = engine.pruneToTargetsDf(got, tDf)
    val wantP = engine.pruneToTargets(want, Seq(doublePhospho))
    assert(gotP.compounds.select("_id").as[String].collect().sorted.toSeq
      === wantP.compounds.select("_id").as[String].collect().sorted.toSeq)
    assert(gotP.reactions.count() === wantP.reactions.count())
    // the target is in the network, so the prune keeps its cone
    assert(wantP.reactions.count() >= 1)
  }

  test("a MetaNetX-scale seed loads gen 0 distributed — no driver " +
    "round-trip, every partition contributes") {
    // 100k seed rows (20 distinct alkanes after dedup): the point is
    // the gen-0 load runs standardization inside tasks over the full
    // file, not that the network is large
    val p = Files.createTempFile("bigseed", ".csv")
    val sb = new StringBuilder("id,smiles\n")
    (1 to 100000).foreach(i => sb ++= s"m$i,${"C" * (i % 20 + 1)}\n")
    Files.writeString(p, sb.toString)
    val seed = PickaxeEngine.loadCompoundFile(spark, p.toString)
      .repartition(8)
    // gen 0 runs no rule: one rule and its two coreactants, written as
    // the TSV files the runner loads, suffice
    val coreTsv = Files.createTempFile("core", ".tsv")
    Files.writeString(coreTsv, "#ID\tName\tSMILES\n" +
      s"ATP\tATP\t$atp\nADP\tADP\t$adp\n")
    val rulesTsv = Files.createTempFile("rules", ".tsv")
    Files.writeString(rulesTsv, "Name\tReactants\tSMARTS\tProducts\n" +
      s"2.7.1.a\tATP;Any\t$phosphorylation\tAny;ADP\n")
    val (rules, core) = PickaxeRun.loadRules(spark, ExplicitTsv(
      rulesTsv.toString, coreTsv.toString))
    assert(rules.length === 1 && core.length === 2)
    val engine = new PickaxeEngine(spark, rules, core)
    val st = engine.runFrom(engine.initialState(seed), generations = 0)
    import spark.implicits._
    val types = st.compounds.groupBy("Type").count()
      .as[(String, Long)].collect().toMap
    assert(types("Starting Compound") === 20L) // dedup by content hash
    assert(types("Coreactant") === core.length.toLong)
    // the seed never collected: gen 0's plan still reads the csv scan
    // (a driver round-trip would re-parallelize a local relation)
    val plan = st.compounds.queryExecution.executedPlan.toString
    assert(plan.contains("csv"), plan.take(400))
  }

  test("MetacycGeneralized source resolves the 1216-rule catalog and " +
    "honors nRules") {
    val dir = "/root/reference/minedatabase/data/metacyc_rules"
    assume(Files.exists(Paths.get(dir)))
    val (all, core) = PickaxeRun.loadRules(spark, MetacycGeneralized())
    assert(all.length === 1216) // test_rules.py:24
    assert(core.length === 45) // test_rules.py:25
    val (top, _) = PickaxeRun.loadRules(spark,
      MetacycGeneralized(nRules = Some(20)))
    assert(top.length === 20)
    // the cut keeps the coverage-ordered prefix: every top-20 rule is
    // in the full selection
    val names = all.map(_.name).toSet
    assert(top.forall(r => names(r.name)))
  }
}
