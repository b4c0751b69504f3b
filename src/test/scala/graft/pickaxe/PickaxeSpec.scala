package graft.pickaxe

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.LocalGate

/** Engine tests against the reference's own fixture data
  * (/root/reference/tests/data — pure data files, reusable per SURVEY §5).
  * Exact-count parity with the reference's 31/49 oracle
  * (test_pickaxe.py:108-109) depends on RDKit-identical SMARTS semantics;
  * what we pin is the engine's own determinism, dedup/merge semantics and
  * fan-out shape, with the actual counts asserted as regression values.
  */
class PickaxeSpec extends SparkSuite {

  private val dataDir = "/root/reference/tests/data"
  private def fixturesPresent: Boolean = Files.exists(Paths.get(dataDir))

  private lazy val engine: PickaxeEngine = {
    val core = PickaxeEngine.parseCoreactants(
      Files.readAllLines(Paths.get(s"$dataDir/test_coreactants.tsv"))
        .asScala.toSeq)
    val rules = PickaxeEngine.parseRules(
      Files.readAllLines(Paths.get(s"$dataDir/test_reaction_rules.tsv"))
        .asScala.toSeq, core)
    new PickaxeEngine(spark, rules, core, explicitH = true)
  }

  private val fadh = "Cc1cc2c(cc1C)N(CC(O)C(O)C(O)COP(=O)(O)OP(=O)(O)OCC1OC" +
    "(n3cnc4c(N)ncnc43)C(O)C1O)c1nc(O)nc(O)c1N2"

  test("fixture files parse: 45-ish coreactants, 2 rules") {
    assume(fixturesPresent)
    assert(engine.coreactants.nonEmpty)
    assert(engine.rules.map(_.name) === Seq("2.7.1.a", "2.6.1.a"))
    assert(engine.coreactants.exists(_.name == "ATP"))
  }

  test("two-generation FADH expansion matches the reference oracle: " +
    "31 compounds / 49 reactions / gens {0,1,2}") {
    // mirror test_transform_all (test_pickaxe.py:93-111) exactly:
    // coreactants ATP+ADP only, rule 2.7.1.a only, FADH, 2 generations
    // (the fixture rows inline, so this pin runs on any host)
    val e = KinaseFixture.engine(spark)
    val st = e.run(Seq(fadh), generations = 2)
    val nCpds = st.compounds.count() // coreactants included, like len(pk.compounds)
    val nRxns = st.reactions.count()
    val gens = st.compounds.select("Generation").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    info(s"compounds=$nCpds reactions=$nRxns gens=$gens")
    assert(nCpds === 31) // test_pickaxe.py:108
    assert(nRxns === 49) // test_pickaxe.py:109
    assert(gens === Seq(0, 1, 2)) // test_pickaxe.py:110-111
    // every predicted compound has generation of FIRST discovery only
    assert(st.compounds.groupBy("_id").count().where(col("count") > 1).isEmpty)
    // operator tagged on every reaction
    assert(st.reactions.where(size(col("Operators")) === 0).isEmpty)
  }

  test("prune of the inline 31/49 network to a generation-2 target: " +
    "the distributed path keeps the local path's compounds and reactions") {
    val e = KinaseFixture.engine(spark)
    val st = e.run(Seq(fadh), generations = 2)
    val target = st.compounds
      .where(col("Generation") === 2 && col("Type") === "Predicted")
      .orderBy("_id").select("_id", "SMILES").first()
    def ids(p: NetworkState) =
      (p.compounds.select("_id").collect().map(_.getString(0)).sorted.toSeq,
        p.reactions.select("_id").collect().map(_.getString(0)).sorted.toSeq)
    val local = ids(e.pruneToTargets(st, Seq(target.getString(1))))
    val dist = ids(withConf(LocalGate.key, "false")(
      e.pruneToTargets(st, Seq(target.getString(1)))))
    assert(dist === local)
    // the target survives, reached through a generation-1 reaction
    assert(local._1.contains(target.getString(0)))
    assert(local._2.size >= 2)
  }

  test("prune to a target keeps only its producing cone") {
    assume(fixturesPresent)
    val st = engine.run(Seq(fadh), 1)
    // pick one predicted compound as the target
    val target = st.compounds.where(col("Type") === "Predicted")
      .orderBy("_id").select("SMILES").first().getString(0)
    val pruned = engine.pruneToTargets(st, Seq(target))
    assert(pruned.reactions.count() >= 1)
    assert(pruned.compounds.where(col("Type") === "Predicted").count()
      < st.compounds.where(col("Type") === "Predicted").count())
    // target itself survives
    val tid = graft.chem.Chem.compoundHash(
      graft.chem.Chem.standardize(target).get, 'C')
    assert(!pruned.compounds.where(col("_id") === tid).isEmpty)
  }

  test("prune to a target keeps only its producing cone " +
    "(inline kinase fixture)") {
    val e = KinaseFixture.engine(spark)
    val st = e.run(Seq(fadh), 1)
    // pick one predicted compound as the target
    val target = st.compounds.where(col("Type") === "Predicted")
      .orderBy("_id").select("SMILES").first().getString(0)
    val pruned = e.pruneToTargets(st, Seq(target))
    assert(pruned.reactions.count() >= 1)
    assert(pruned.compounds.where(col("Type") === "Predicted").count()
      < st.compounds.where(col("Type") === "Predicted").count())
    // target itself survives
    val tid = graft.chem.Chem.compoundHash(
      graft.chem.Chem.standardize(target).get, 'C')
    assert(!pruned.compounds.where(col("_id") === tid).isEmpty)
  }

  test("prune to the reference's target matches its oracle: " +
    "6 compounds / 4 reactions") {
    assume(fixturesPresent)
    // test_target_generation (test_pickaxe.py:207-220)
    val core = engine.coreactants.filter(c => Set("ATP", "ADP")(c.name))
    val e = new PickaxeEngine(spark,
      engine.rules.filter(_.name == "2.7.1.a"), core,
      explicitH = true)
    val target = scala.io.Source.fromFile(s"$dataDir/test_targets.csv")
      .getLines().drop(1).next().split(",")(1)
    val st = e.run(Seq(fadh), generations = 2)
    val pruned = e.pruneToTargets(st, Seq(target))
    assert(pruned.reactions.count() === 4) // test_pickaxe.py:219
    assert(pruned.compounds.count() === 6) // test_pickaxe.py:220
    // distributed path (size gate forced off) returns the identical sets
    val dist = withConf(LocalGate.key, "false")(
      e.pruneToTargets(st, Seq(target)))
    assert(dist.compounds.select("_id").collect().map(_.getString(0)).sorted
      === pruned.compounds.select("_id").collect().map(_.getString(0)).sorted)
    assert(dist.reactions.select("_id").collect().map(_.getString(0)).sorted
      === pruned.reactions.select("_id").collect().map(_.getString(0)).sorted)
  }

  /** The engine-property cases below run once per engine: the inline
    * kinase fixture on any host, the reference's fixture files only
    * where they are present (the getter cancels the case otherwise).
    */
  private val propertyEngines: Seq[(String, () => PickaxeEngine)] = Seq(
    "inline kinase fixture" -> (() => KinaseFixture.engine(spark)),
    "reference fixture" -> (() => { assume(fixturesPresent); engine }))

  for ((label, engineOf) <- propertyEngines) {
    test(s"expansion is deterministic and partitioning-invariant ($label)") {
      val engine = engineOf()
      val a = engine.run(Seq(fadh), 1)
      val b = engine.run(Seq(fadh), 1)
      assert(a.reactions.select("_id").collect().map(_.getString(0)).sorted
        === b.reactions.select("_id").collect().map(_.getString(0)).sorted)
      val ids = a.compounds.select("_id").collect().map(_.getString(0)).sorted
      val c = {
        val st0 = engine.initialState(Seq(fadh))
        engine.expandOnce(st0.copy(compounds = st0.compounds.repartition(7)))
      }
      assert(c.compounds.select("_id").collect().map(_.getString(0)).sorted
        === ids)
    }

    test(s"adjacency arrays mirror reaction membership ($label)") {
      val engine = engineOf()
      val st = engine.run(Seq(fadh), 1)
      val adj = engine.adjacency(st)
      // FADH is a reactant in every gen-1 reaction
      val fadhId = graft.chem.Chem.compoundHash(
        graft.chem.Chem.standardize(fadh).get, 'C')
      val row = adj.where(col("_id") === fadhId).collect().head
      assert(row.getSeq[String](1).size === st.reactions.count())
    }

    test(s"TSV export is byte-deterministic across runs ($label)") {
      val engine = engineOf()
      val core = engine.coreactants.filter(c => Set("ATP", "ADP")(c.name))
      val e = new PickaxeEngine(spark,
        engine.rules.filter(_.name == "2.7.1.a"), core,
        explicitH = true)
      def exportTsv(dir: String): (String, String) = {
        e.writeTsv(e.run(Seq(fadh), 1), dir)
        def read(sub: String): String = {
          val d = new java.io.File(s"$dir/$sub")
          val part = d.listFiles().filter(_.getName.startsWith("part-")).head
          new String(Files.readAllBytes(part.toPath))
        }
        (read("compounds"), read("reactions"))
      }
      val a = exportTsv("/tmp/pk_tsv_a")
      val b = exportTsv("/tmp/pk_tsv_b")
      assert(a._1 === b._1) // golden-file stability (test_pickaxe.py:114-150
      assert(a._2 === b._2) // shape; ids differ from RDKit's, see SURVEY §7)
      assert(a._1.linesIterator.next().startsWith("ID\t"))
      assert(a._1.linesIterator.size > 5)
    }

    test(s"assign_ids is dense and deterministic ($label)") {
      val engine = engineOf()
      val st = engine.assignIds(engine.run(Seq(fadh), 1))
      val ids = st.compounds.select("ID").collect().map(_.getString(0)).sorted
      assert(ids.head === "pkc0000001")
      assert(ids.distinct.length === ids.length)
    }
  }
}
