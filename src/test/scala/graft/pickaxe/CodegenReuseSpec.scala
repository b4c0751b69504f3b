package graft.pickaxe

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** The engine's generated code does not depend on the data: a Pickaxe
  * pass (two generations, the thermodynamic filter, the prune and the
  * dense ids) over a second input, with other seeds and other targets,
  * compiles no class that the same pass over a first input did not, and
  * neither does a second mass-search request. A class whose Java source
  * holds a value of the data (a generation number, a broadcast table's
  * key layout) would compile again here, and with it every later pass
  * of a long session.
  */
class CodegenReuseSpec extends SparkSuite {
  import spark.implicits._

  private lazy val engine = KinaseFixture.engine(spark)

  /** One pass; returns the dense ids of the pruned compounds and
    * reactions and the codegen compiles it took.
    */
  private def pass(seeds: Seq[String], targets: Int)
      : (Seq[String], Seq[String], Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val st2 = engine.expandOnce(engine.expandOnce(engine.initialState(seeds)))
    val st = engine.applyFilters(st2, Seq(ThermoFilter(dgMax = 1e7)))
    val gen2 = st.compounds.where(col("Generation") === 2)
      .select("SMILES").as[String].collect().sorted.take(targets)
    val ided = engine.assignIds(engine.pruneToTargets(st, gen2.toSeq))
    val cpds = ided.compounds.select("ID").as[String].collect().toSeq
    val rxns = ided.reactions.select("ID").as[String].collect().toSeq
    (cpds, rxns, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  test("a second Pickaxe pass over other seeds and targets compiles " +
    "no new class") {
    val (c1, r1, _) = pass(Seq("OCC(O)CO", "OCCO"), targets = 2)
    val (c2, r2, compiles) = pass(
      Seq("OCC(O)C(O)CO", "OCCCO", "OCCCCO"), targets = 3)
    // both passes kept a network
    assert(c1.nonEmpty && r1.nonEmpty && c2.nonEmpty && r2.nonEmpty)
    assert(compiles === 0L)
  }

  test("a mass-search request whose windows share a bucket compiles no " +
    "class that one with disjoint buckets did not") {
    val catalog = (0 until 200).map(i => (s"C$i", "C", "C6H12O6",
      50.0 + i * 0.75, 0)).toDF("_id", "SMILES", "Formula", "Mass", "Charge")
    val adducts = Seq(AdductRow("[M+H]+", 1.0, 1.007276))
    def request(masses: Double*): (Set[(String, String)], Long) = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val peaks = masses.zipWithIndex
        .map { case (m, i) => (s"p$i", m + 1.007276, "+") }
        .toDF("name", "mz", "charge")
      val hits = MassSearch.adductSearch(spark, catalog, peaks, adducts,
        tol = 0.002).select("peak", "_id").as[(String, String)].collect()
      (hits.toSet, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    // windows in buckets of their own: every build key is unique
    val (disjoint, _) = request(80.0, 125.0)
    // two windows in the same buckets: repeated build keys
    val (shared, compiles) = request(80.0, 80.001)
    assert(disjoint === Set("p0" -> "C40", "p1" -> "C100"))
    assert(shared === Set("p0" -> "C40", "p1" -> "C40"))
    assert(compiles === 0L)
  }
}
