package graft.pickaxe

import graft.SparkSuite

/** Which reactions ThermoFilter scores and deletes. With a model of one
  * unit per heavy atom, ΔG of a reaction is (reactant atoms − product
  * atoms), so `dgMax = 0` splits the hand-built network below: it
  * deletes some reactions, keeps others, and one reaction that would be
  * deleted survives because none of its products is of the current
  * generation.
  */
class ThermoSelectionSpec extends SparkSuite {
  import spark.implicits._

  // generation 1 state:
  //   CA (gen 0, 3 atoms)  CB (gen 1, 4 atoms)  CC (gen 1, 1 atom)
  //   R1: CA -> CB        dG = -1  checked, kept
  //   R2: CA -> CC        dG = +2  checked, deleted
  //   R3: CB -> CA        dG = +1  only an older product: not checked, kept
  //   R4: CB -> CA + CC   dG =  0  one current-generation product: deleted
  private def state(): NetworkState = {
    val compounds = Seq(
      ("CA", "CCO", "Starting Compound", 0),
      ("CB", "CCCO", "Predicted", 1),
      ("CC", "C", "Predicted", 1))
      .map { case (id, smi, t, g) => (id, "", smi, t, g, "", 0, 0.0, true) }
      .toDF("_id", "ID", "SMILES", "Type", "Generation", "Formula",
        "Charge", "Mass", "Expand")
    val reactions = Seq(
      ("R1", Seq("CA"), Seq("CB")),
      ("R2", Seq("CA"), Seq("CC")),
      ("R3", Seq("CB"), Seq("CA")),
      ("R4", Seq("CB"), Seq("CA", "CC")))
      .map { case (id, r, p) =>
        (id, "", r.map(Stoich(1, _)), p.map(Stoich(1, _)), Seq("rule"), "")
      }
      .toDF("_id", "ID", "Reactants", "Products", "Operators", "SMILES_rxn")
    NetworkState(compounds, reactions, 1)
  }

  private val filter = ThermoFilter(dgMax = 0.0,
    model = m => m.atoms.size.toDouble)

  test("ThermoFilter checks only reactions producing a current-generation " +
    "compound and deletes those at or above dgMax") {
    assert(filter.blockedReactions(state()).as[String].collect().toSet
      === Set("R2", "R4"))
    val engine = new PickaxeEngine(spark, Nil, Nil)
    val out = engine.applyFilters(state(), Seq(filter))
    assert(out.reactions.select("_id").as[String].collect().toSet
      === Set("R1", "R3"))
  }

  test("ThermoFilter deletes what a driver-side Thermo.deltaG scan puts " +
    "at or above dgMax, stoichiometry and the boundary included") {
    // generation 1 again; atoms: CA 3, CB 4, CC 1, CD 2; dgMax = 1
    //   S1: CA -> CB                dG = -1
    //   S2: 2 CA -> CB + 2 CC       dG =  0
    //   S3: 2 CA -> CB + CC         dG =  1  exactly dgMax: deleted
    //   S4: 3 CC + CA -> 2 CD       dG =  2  deleted
    //   S5: 2 CB -> 2 CA + CC       dG =  1  deleted
    //   S6: CB -> CA                dG =  1  no gen-1 product: not
    //                                        checked, kept
    val compounds = Seq(
      ("CA", "CCO", 0), ("CB", "CCCO", 1), ("CC", "C", 1), ("CD", "CC", 1))
      .map { case (id, smi, g) =>
        (id, "", smi, "Predicted", g, "", 0, 0.0, true) }
      .toDF("_id", "ID", "SMILES", "Type", "Generation", "Formula",
        "Charge", "Mass", "Expand")
    val rxns = Seq(
      "S1" -> (Seq(1 -> "CA"), Seq(1 -> "CB")),
      "S2" -> (Seq(2 -> "CA"), Seq(1 -> "CB", 2 -> "CC")),
      "S3" -> (Seq(2 -> "CA"), Seq(1 -> "CB", 1 -> "CC")),
      "S4" -> (Seq(3 -> "CC", 1 -> "CA"), Seq(2 -> "CD")),
      "S5" -> (Seq(2 -> "CB"), Seq(2 -> "CA", 1 -> "CC")),
      "S6" -> (Seq(1 -> "CB"), Seq(1 -> "CA")))
    val reactions = rxns
      .map { case (id, (r, p)) =>
        (id, "", r.map(Stoich.tupled), p.map(Stoich.tupled), Seq("rule"), "")
      }
      .toDF("_id", "ID", "Reactants", "Products", "Operators", "SMILES_rxn")
    val dgMax = 1.0
    val model = (m: graft.chem.Molecule) => m.atoms.size.toDouble
    val st = NetworkState(compounds, reactions, 1)

    val smiles = Map("CA" -> "CCO", "CB" -> "CCCO", "CC" -> "C", "CD" -> "CC")
    val gen = Map("CA" -> 0, "CB" -> 1, "CC" -> 1, "CD" -> 1)
    def side(ms: Seq[(Int, String)]) =
      ms.map { case (n, c) => n -> graft.chem.Smiles.parse(smiles(c)) }
    val scan = rxns.collect {
      case (id, (r, p)) if p.exists(m => gen(m._2) == 1) &&
          Thermo.deltaG(side(r), side(p), model) >= dgMax => id
    }.toSet
    assert(scan === Set("S3", "S4", "S5"))
    assert(ThermoFilter(dgMax = dgMax, model = model).blockedReactions(st)
      .as[String].collect().toSet === scan)
  }
}
