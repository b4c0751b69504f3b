package graft.pickaxe

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.chem.{MolFile, NPScore, Smiles}
import graft.operators.LocalGate

class CascadeAndIOSpec extends SparkSuite {
  import spark.implicits._

  private def state(): NetworkState = {
    // tiny hand-built network:
    //   S (start) -> R1 -> {P1, P2};  P1 -> R2 -> {P3};  P2 -> R3 -> {P4}
    val compounds = Seq(
      ("CS", "Starting Compound"), ("CP1", "Predicted"),
      ("CP2", "Predicted"), ("CP3", "Predicted"), ("CP4", "Predicted"))
      .map { case (id, t) => (id, "", "C", t, 0, "CH4", 0, 16.0, true) }
      .toDF("_id", "ID", "SMILES", "Type", "Generation", "Formula",
        "Charge", "Mass", "Expand")
    val reactions = Seq(
      ("R1", Seq((1, "CS")), Seq((1, "CP1"), (1, "CP2"))),
      ("R2", Seq((1, "CP1")), Seq((1, "CP3"))),
      ("R3", Seq((1, "CP2")), Seq((1, "CP4"))))
      .map { case (id, r, p) =>
        (id, "", r.map(t => Stoich(t._1, t._2)), p.map(t => Stoich(t._1, t._2)),
          Seq("rule"), "")
      }
      .toDF("_id", "ID", "Reactants", "Products", "Operators", "SMILES_rxn")
    NetworkState(compounds, reactions, 2)
  }

  test("cascade delete: reaction survives while any product survives") {
    // removing only P1: R1 survives (P2 remains) => P1 resurrected
    val out = Cascade.cascadeDelete(state(), Seq("CP1").toDF("_id"))
    assert(out.reactions.count() === 3)
    assert(out.compounds.count() === 5) // resurrection
  }

  test("cascade delete: full-product removal cascades downstream") {
    // removing P3 and P4 kills R2+R3; P1/P2 still produced by R1 -> kept
    val out = Cascade.cascadeDelete(state(), Seq("CP3", "CP4").toDF("_id"))
    assert(out.reactions.select("_id").as[String].collect().toSet === Set("R1"))
    assert(out.compounds.select("_id").as[String].collect().toSet ===
      Set("CS", "CP1", "CP2"))
    // removing P1..P4 kills everything except the protected start
    val all = Cascade.cascadeDelete(state(),
      Seq("CP1", "CP2", "CP3", "CP4").toDF("_id"))
    assert(all.reactions.count() === 0)
    assert(all.compounds.select("_id").as[String].collect().toSet === Set("CS"))
  }

  test("cascade delete: distributed path agrees with the local gate") {
    for (rm <- Seq(Seq("CP1"), Seq("CP3", "CP4"),
        Seq("CP1", "CP2", "CP3", "CP4"))) {
      val loc = Cascade.cascadeDelete(state(), rm.toDF("_id"))
      val dist = withConf(LocalGate.key, "false")(
        Cascade.cascadeDelete(state(), rm.toDF("_id")))
      assert(dist.compounds.select("_id").as[String].collect().sorted
        === loc.compounds.select("_id").as[String].collect().sorted)
      assert(dist.reactions.select("_id").as[String].collect().sorted
        === loc.reactions.select("_id").as[String].collect().sorted)
    }
  }

  test("deleteReactions: distributed path agrees with the local gate") {
    def ids(st: NetworkState) =
      (st.compounds.select("_id").as[String].collect().sorted.toSeq,
        st.reactions.select("_id").as[String].collect().sorted.toSeq)
    for (rxns <- Seq(Seq.empty[String], Seq("R1"), Seq("R2"), Seq("R3"),
        Seq("R2", "R3"), Seq("R1", "R2", "R3"), Seq("RX"))) {
      val loc = ids(Cascade.deleteReactions(state(), rxns.toDF("_id")))
      val dist = ids(withConf(LocalGate.key, "false")(
        Cascade.deleteReactions(state(), rxns.toDF("_id"))))
      assert(dist === loc, s"deleting $rxns")
    }
    // deleting R1 orphans P1 and P2, whose consumers R2 and R3 die and
    // orphan P3 and P4; the starting compound is protected
    assert(ids(Cascade.deleteReactions(state(), Seq("R1").toDF("_id"))) ===
      (Seq("CS"), Seq.empty[String]))
  }

  test("applyFilters: a blocked compound that is resurrected keeps no " +
    "Expand flag, on both paths") {
    val blockP1 = new CompoundFilter {
      def name = "block CP1"
      def blocked(st: NetworkState) = Seq("CP1").toDF("_id")
    }
    val engine = KinaseFixture.engine(spark)
    def flags(st: NetworkState) =
      (st.compounds.select("_id", "Expand").as[(String, Boolean)].collect()
        .sorted.toSeq,
        st.reactions.select("_id").as[String].collect().sorted.toSeq)
    val loc = flags(engine.applyFilters(state(), Seq(blockP1)))
    val dist = flags(withConf(LocalGate.key, "false")(
      engine.applyFilters(state(), Seq(blockP1))))
    assert(dist === loc)
    // R1 survives through CP2, so CP1 is resurrected, unexpandable
    assert(loc === (Seq("CP1" -> false, "CP2" -> true, "CP3" -> true,
      "CP4" -> true, "CS" -> true), Seq("R1", "R2", "R3")))
  }

  test("cascade delete touches ONLY requested compounds plus true orphans") {
    // a compound referenced by no reaction must survive unless requested
    val extra = state().copy(compounds = state().compounds.unionByName(
      Seq(("CFREE", "", "C", "Predicted", 0, "CH4", 0, 16.0, true))
        .toDF("_id", "ID", "SMILES", "Type", "Generation", "Formula",
          "Charge", "Mass", "Expand")))
    val out = Cascade.cascadeDelete(extra, Seq("CP3").toDF("_id"))
    val ids = out.compounds.select("_id").as[String].collect().toSet
    assert(ids.contains("CFREE")) // unreferenced but NOT requested -> kept
    assert(!ids.contains("CP3"))
    assert(out.reactions.select("_id").as[String].collect().toSet ===
      Set("R1", "R3")) // only R2 (sole product CP3) dies
  }

  /** Ring glucose as a V2000 MOL block (heavy atoms only, no stereo). */
  private val glucoseMol =
    """glucose
      |  hand-written
      |
      | 12 12  0  0  0  0  0  0  0  0999 V2000
      |    1.0000    0.0000    0.0000 C   0  0  0  0  0  0  0  0  0  0  0  0
      |    0.5000   -0.8700    0.0000 C   0  0  0  0  0  0  0  0  0  0  0  0
      |   -0.5000   -0.8700    0.0000 C   0  0  0  0  0  0  0  0  0  0  0  0
      |   -1.0000    0.0000    0.0000 C   0  0  0  0  0  0  0  0  0  0  0  0
      |   -0.5000    0.8700    0.0000 C   0  0  0  0  0  0  0  0  0  0  0  0
      |    0.5000    0.8700    0.0000 O   0  0  0  0  0  0  0  0  0  0  0  0
      |   -1.0000    1.7300    0.0000 C   0  0  0  0  0  0  0  0  0  0  0  0
      |    2.0000    0.0000    0.0000 O   0  0  0  0  0  0  0  0  0  0  0  0
      |    1.0000   -1.7300    0.0000 O   0  0  0  0  0  0  0  0  0  0  0  0
      |   -1.0000   -1.7300    0.0000 O   0  0  0  0  0  0  0  0  0  0  0  0
      |   -2.0000    0.0000    0.0000 O   0  0  0  0  0  0  0  0  0  0  0  0
      |   -2.0000    1.7300    0.0000 O   0  0  0  0  0  0  0  0  0  0  0  0
      |  1  2  1  0
      |  2  3  1  0
      |  3  4  1  0
      |  4  5  1  0
      |  5  6  1  0
      |  6  1  1  0
      |  5  7  1  0
      |  1  8  1  0
      |  2  9  1  0
      |  3 10  1  0
      |  4 11  1  0
      |  7 12  1  0
      |M  END""".stripMargin

  test("SDF multi-line data fields are captured fully") {
    val sdf = glucoseMol + "\n> <comment>\nline one\nline two\n\n$$$$\n"
    val recs = MolFile.parseSdf(sdf)
    assert(recs.head._2("comment") === "line one\nline two")
  }

  test("product-of-native back-trace (J8)") {
    val natives = Seq("CS").toDF("_id")
    // P1, P2 produced from native S; P3 produced from non-native P1
    val out = Cascade.productOfNative(state(),
      Seq("CP1", "CP3").toDF("_id"), natives)
    assert(out.as[String].collect().toSet === Set("CP1"))
  }

  test("MOL file: reference glucose fixture parses to glucose") {
    assume(Files.exists(Paths.get("/root/reference/tests/data/glucose.mol")))
    val mol = new String(Files.readAllBytes(
      Paths.get("/root/reference/tests/data/glucose.mol")))
    val smiles = MolFile.molToSmiles(mol)
    // ring glucose: C6H12O6
    assert(graft.chem.Formula.hillFormula(Smiles.parse(smiles)) === "C6H12O6")
    assert(smiles === Smiles.canonical("OCC1OC(O)C(O)C(O)C1O"))
  }

  test("SDF parsing with data fields") {
    val mol = glucoseMol
    val sdf = mol + "\n> <ID>\nglucose-1\n\n$$$$\n" + mol + "\n> <ID>\ng2\n\n$$$$\n"
    val recs = MolFile.parseSdf(sdf)
    assert(recs.length === 2)
    assert(recs.head._2("ID") === "glucose-1")
    assert(recs.map(_._1).distinct.length === 1)
    assert(recs.head._1 === Smiles.canonical("OCC1OC(O)C(O)C(O)C1O"))
  }

  test("compound file loading: structure column detection + dedup") {
    assume(Files.exists(Paths.get("/root/reference/tests/data/test_targets.csv")))
    val df = PickaxeEngine.loadCompoundFile(spark,
      "/root/reference/tests/data/test_targets.csv")
    assert(df.count() === 1) // one smiles row in the fixture
    assert(df.select("_id").first().getString(0).startsWith("C"))
    // inline file with a duplicate + an inorganic + a fragment
    val p = Files.createTempFile("cpds", ".csv")
    Files.writeString(p,
      "id,smiles\n1,CCO\n2,OCC\n3,[Na+].[Cl-]\n4,O\n5,c1ccccc1\n")
    val df2 = PickaxeEngine.loadCompoundFile(spark, p.toString)
    // CCO==OCC dedup; NaCl fragment rejected; water inorganic; benzene ok
    assert(df2.count() === 2)
  }

  test("compound file loading: json branch matches the csv path") {
    // file_to_dict_list (utils.py:71-94) accepts .json as a JSON array
    // of records; the same rows must land on identical compound hashes
    val csv = Files.createTempFile("cpds", ".csv")
    Files.writeString(csv, "id,smiles\n1,CCO\n2,c1ccccc1\n3,CC(=O)O\n")
    val json = Files.createTempFile("cpds", ".json")
    Files.writeString(json,
      """[{"id": "1", "smiles": "CCO"},
         {"id": "2", "smiles": "c1ccccc1"},
         {"id": "3", "smiles": "CC(=O)O"}]""")
    val fromCsv = PickaxeEngine.loadCompoundFile(spark, csv.toString)
      .select("_id").collect().map(_.getString(0)).sorted
    val fromJson = PickaxeEngine.loadCompoundFile(spark, json.toString)
      .select("_id").collect().map(_.getString(0)).sorted
    assert(fromJson.length === 3)
    assert(fromJson.toSeq === fromCsv.toSeq)
    // unknown extension fails loudly, like the reference's ValueError
    intercept[RuntimeException] {
      PickaxeEngine.loadCompoundFile(spark, "/tmp/x.parquet")
    }
  }

  test("NP score: deterministic, damped into [-5, 5]") {
    val s1 = NPScore.score("CCO")
    assert(s1 === NPScore.score("OCC")) // canonical-fragment invariant
    for (smi <- Seq("CCO", "c1ccccc1O", "CC(=O)NC1OC(CO)C(O)C(O)C1O"))
      assert(math.abs(NPScore.score(smi)) <= 5.0)
  }
}
