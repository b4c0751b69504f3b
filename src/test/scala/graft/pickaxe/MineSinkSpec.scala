package graft.pickaxe

import org.apache.spark.sql.functions._

import graft.SparkSuite

class MineSinkSpec extends SparkSuite {
  import spark.implicits._

  private val atp = "Nc1ncnc2c1ncn2C1OC(COP(=O)(O)OP(=O)(O)OP(=O)(O)O)C(O)C1O"
  private val adp = "Nc1ncnc2c1ncn2C1OC(COP(=O)(O)OP(=O)(O)O)C(O)C1O"
  private val rule = "[#6;H2D4:8][#8;H0D2:7][#15;H0D4:6][#8;H0D2:5]" +
    "[#15;H0D4:4][#8;H0D2:3][#15;H0D4:2][#8;H1D2R0:1]." +
    "[#1;D1R0:11][#8;H1D2R0:10][#6:9]>>" +
    "[*:1]-[*:2]-[*:10]-[*:9].[*:8]-[*:7]-[*:6]-[*:5]-[*:4]-[*:3]-[*:11]"

  private lazy val st: NetworkState = {
    val core = PickaxeEngine.parseCoreactants(Seq(
      s"ATP\tATP\t$atp", s"ADP\tADP\t$adp"))
    new PickaxeEngine(spark,
      PickaxeEngine.parseRules(Seq(s"2.7.1.a\tATP;Any\t$rule\tAny;ADP\t-"),
        core), core, explicitH = true).run(Seq("CCO"), generations = 1)
  }

  test("core enrichment columns are populated and deterministic") {
    val core = MineSink.coreCompounds(st, "mine_a")
    val row = core.where(col("SMILES") === "CCO").collect().head
    val fp = row.getSeq[Int](row.fieldIndex("RDKit_fp"))
    assert(fp.nonEmpty)
    assert(row.getAs[Int]("len_RDKit_fp") === fp.length)
    assert(math.abs(row.getAs[Double]("NP_likeness")) <= 5.0)
    assert(row.getSeq[String](row.fieldIndex("MINES")) === Seq("mine_a"))
  }

  test("core enrichment with the real NP model scores reference-exactly") {
    val modelPath =
      "/root/reference/minedatabase/NP_Score/publicnp.model.gz"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(modelPath)))
    val core = MineSink.coreCompounds(st, "mine_np", Some(modelPath))
    val row = core.where(col("SMILES") === "CCO").collect().head
    // ethanol scored by hand through the exact chain: distinct
    // Morgan-2 bits -> shipped-model lookup -> / 3 heavy atoms
    val model = graft.chem.NPModel.load(modelPath)
    val want = graft.chem.NPScore.scorer(model)(
      graft.chem.Smiles.parse("CCO"))
    assert(math.abs(row.getAs[Double]("NP_likeness") -
      math.rint(want * 1e6) / 1e6) < 1e-9)
  }

  test("mergeCore repacks legacy narrow packed_fp rows to the current " +
    "width") {
    import graft.expressions.BitTanimoto
    val incoming = MineSink.coreCompounds(st, "mine_new")
    // a pre-r5 store: same schema, 512-bit (64-byte) packed_fp, and an
    // _id absent from the incoming run so the legacy row must survive
    val legacy = incoming.limit(1)
      .withColumn("_id", lit("Clegacy0000000000000000000000000000000000"))
      .withColumn("packed_fp",
        udf { fp: Seq[Int] => BitTanimoto.pack(fp.toArray, nBits = 512) }
          .apply(col("RDKit_fp")))
      .withColumn("MINES", array(lit("mine_old")))
    val widths = MineSink.mergeCore(legacy, incoming)
      .select(length(col("packed_fp"))).distinct()
      .as[Int].collect().toSet
    assert(widths === Set(BitTanimoto.packedBytes))
  }

  test("saveBucketed: compound-adjacency id join is exchange-free") {
    val dir = java.nio.file.Files.createTempDirectory("minebkt").toString
    MineSink.saveBucketed(spark, st, "bkt", buckets = 4, path = Some(dir))
    val compounds = spark.table("bkt_compounds")
    val adj = spark.table("bkt_adjacency")
    // adjacency carries every reactant + product role row
    val nRoles = st.reactions
      .select(explode(col("Reactants"))).count() +
      st.reactions.select(explode(col("Products"))).count()
    assert(adj.count() === nRoles)
    // the id join must use the write-time bucketing: no shuffle on
    // either side (broadcast disabled so the test can't pass that way)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = compounds.join(adj, Seq("_id"))
      assert(joined.count() > 0)
      // the count's final single-partition exchange is fine; a
      // hash-partitioning exchange would mean the join shuffled
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("hashpartitioning"),
        s"expected exchange-free bucketed join, got:\n$plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("save + re-save merges MINES membership ($addToSet semantics)") {
    val dir = java.nio.file.Files.createTempDirectory("mine").toString
    MineSink.save(spark, st, dir, "mine_a")
    MineSink.save(spark, st, dir, "mine_b")
    val core = spark.read.parquet(s"$dir/core_compounds")
    val mines = core.select(explode(col("MINES"))).distinct()
      .as[String].collect().toSet
    assert(mines === Set("mine_a", "mine_b"))
    // no duplicate compounds after the merge
    assert(core.groupBy("_id").count().where(col("count") > 1).isEmpty)
    // both per-run tables exist
    assert(spark.read.parquet(s"$dir/mine_a/compounds").count() ===
      st.compounds.count())
    assert(spark.read.parquet(s"$dir/mine_b/reactions").count() ===
      st.reactions.count())
  }

  test("a failed write surfaces its own exception and leaves the stored " +
    "core table as it was") {
    val dir = java.nio.file.Files.createTempDirectory("mine").toString
    MineSink.save(spark, st, dir, "mine_a")
    def stored() = spark.read.parquet(s"$dir/core_compounds")
      .select(col("_id"), col("MINES")).as[(String, Seq[String])]
      .collect().toMap
    val before = stored()
    // the reactions write fails inside its job; the compounds and core
    // writes run alongside it
    val fail = udf { (s: String) =>
      if (s != null) throw new IllegalStateException("reactions write failed")
      s
    }
    val bad = st.copy(reactions =
      st.reactions.withColumn("SMILES_rxn", fail(col("SMILES_rxn"))))
    val e = intercept[Exception](MineSink.save(spark, bad, dir, "mine_b"))
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage)
        .contains("reactions write failed")))
    // no swap happened: the old table is in place, unchanged
    assert(stored() === before)
    assert(before.values.forall(_ == Seq("mine_a")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/core_compounds.old")))
  }
}
