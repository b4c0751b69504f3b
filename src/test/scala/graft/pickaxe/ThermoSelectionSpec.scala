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
}
