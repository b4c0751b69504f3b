package graft.pickaxe

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.chem.Chem

/** Which compounds `expandOnce` expands: the compounds of the state's
  * generation with Expand set (coreactants and targets excepted). The
  * network after several generations must equal a breadth-first
  * expansion by the kernel alone, and compounds outside the current
  * generation are left alone whatever their Expand flag says.
  */
class ExpandFrontierSpec extends SparkSuite {
  import spark.implicits._

  private def core = KinaseFixture.core
  private lazy val engine = KinaseFixture.engine(spark)

  // glycerol phosphorylates over three generations, ethylene glycol two
  private val glycerol = "OCC(O)CO"
  private val glycol = "OCCO"

  private def id(smiles: String) =
    Chem.compoundHash(Chem.standardize(smiles).get, 'C')

  private def seed(smiles: String, gen: Int, expand: Boolean) = {
    val s = Chem.standardize(smiles).get
    PickaxeEngine.mkCompound(Chem.compoundHash(s, 'C'), s,
      "Starting Compound", gen, expand)
  }

  /** Reactant ids of every reaction, by reaction id. */
  private def reactants(st: NetworkState): Map[String, Set[String]] =
    st.reactions.select(col("_id"), col("Reactants.c_id"))
      .as[(String, Seq[String])].collect()
      .map { case (r, cs) => r -> cs.toSet }.toMap

  test("three generations equal a breadth-first expansion by the kernel") {
    val seeds = Seq(glycerol, glycol)
    val st = engine.run(seeds, generations = 3)

    val coreMap = core.map(c => c.name -> (c.smiles, c._id)).toMap
    val start = seeds.map(s => Chem.standardize(s).get)
      .map(s => Chem.compoundHash(s, 'C') -> s)
    val gen = collection.mutable.LinkedHashMap.empty[String, Int]
    start.foreach(c => gen(c._1) = 0)
    core.foreach(c => gen(c._id) = 0)
    val rxns = collection.mutable.Map.empty[String, Set[String]]
    var frontier = start
    for (g <- 1 to 3) {
      val predicted = frontier.flatMap { case (i, s) =>
        RuleKernel.applyAll(i, s, engine.rules, coreMap, explicitH = true)
      }
      predicted.foreach(p =>
        rxns(p.rxnId) = rxns.getOrElse(p.rxnId, Set.empty) + p.operator)
      val fresh = predicted.flatMap(_.productSmiles).distinctBy(_._1)
        .filterNot(p => gen.contains(p._1))
      fresh.foreach(p => gen(p._1) = g)
      frontier = fresh
    }
    assert(gen.values.toSet === Set(0, 1, 2, 3))

    assert(st.generation === 3)
    assert(st.compounds.select("_id", "Generation").as[(String, Int)]
      .collect().toMap === gen.toMap)
    assert(st.reactions.select("_id", "Operators").as[(String, Seq[String])]
      .collect().map { case (r, ops) => r -> ops.toSet }.toMap === rxns.toMap)
    // only the last generation is left to expand
    assert(st.compounds.where(col("Expand")).select("_id").as[String]
      .collect().toSet === gen.collect { case (c, 3) => c }.toSet)
  }

  test("a seed outside generation 0 expands in its own generation") {
    val st0 = engine.initialState(Seq(
      seed(glycol, 0, expand = true), seed(glycerol, 1, expand = true)).toDF())
    val st1 = engine.expandOnce(st0)
    val byGlycerol = (st: NetworkState) =>
      reactants(st).count(_._2.contains(id(glycerol)))
    assert(reactants(st1).count(_._2.contains(id(glycol))) > 0)
    assert(byGlycerol(st1) === 0)
    assert(st1.compounds.where(col("_id") === id(glycerol))
      .select("Generation", "Expand").as[(Int, Boolean)].collect()
      === Array((1, true)))
    val st2 = engine.expandOnce(st1)
    assert(byGlycerol(st2) > 0)
    assert(st2.compounds.where(col("_id") === id(glycerol))
      .select("Expand").as[Boolean].collect() === Array(false))
  }

  test("an older compound that still has Expand set is not expanded") {
    val st0 = engine.initialState(Seq(
      seed(glycerol, 0, expand = true), seed(glycol, 1, expand = true)).toDF())
    val st = engine.expandOnce(st0.copy(generation = 1))
    val rs = reactants(st)
    assert(rs.nonEmpty)
    assert(rs.forall(_._2.contains(id(glycol))))
    assert(!rs.exists(_._2.contains(id(glycerol))))
    // only the expanded generation's flags are cleared
    assert(st.compounds.where(col("_id").isin(id(glycerol), id(glycol)))
      .select("_id", "Expand").as[(String, Boolean)].collect().toMap
      === Map(id(glycerol) -> true, id(glycol) -> false))
  }
}
