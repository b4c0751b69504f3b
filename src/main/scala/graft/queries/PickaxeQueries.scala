package graft.queries

import org.apache.spark.sql.functions._

import graft.pickaxe._

/** Pickaxe-engine pack: the reference's own surface driven end to end —
  * rule-driven expansion, target pruning, mass/adduct search — on the
  * public fixture chemistry (SMILES/SMARTS from the reference's test
  * data files). Results are deterministic; they are not SQL-expressible
  * over the synthetic tables, so the driver records rows-only checks.
  */
object PickaxeQueries extends QueryPack {

  // Public fixture data (reference tests/data, pure data not code)
  private val atp = "Nc1ncnc2c1ncn2[C@@H]1O[C@H](COP(=O)(O)OP(=O)(O)OP(=O)" +
    "(O)O)[C@@H](O)[C@H]1O"
  private val adp = "Nc1ncnc2c1ncn2[C@@H]1O[C@H](COP(=O)(O)OP(=O)(O)O)" +
    "[C@@H](O)[C@H]1O"
  private val fadh = "Cc1cc2c(cc1C)N(CC(O)C(O)C(O)COP(=O)(O)OP(=O)(O)OCC1OC" +
    "(n3cnc4c(N)ncnc43)C(O)C1O)c1nc(O)nc(O)c1N2"
  private val phosphorylation = "[#6;H2D4:8][#8;H0D2:7][#15;H0D4:6]" +
    "[#8;H0D2:5][#15;H0D4:4][#8;H0D2:3][#15;H0D4:2][#8;H1D2R0:1]." +
    "[#1;D1R0:11][#8;H1D2R0:10][#6:9]>>" +
    "[*:1]-[*:2]-[*:10]-[*:9].[*:8]-[*:7]-[*:6]-[*:5]-[*:4]-[*:3]-[*:11]"

  /** The NP-likeness model q_chem_npscore scores with. */
  def npModelPath: String = sys.env.getOrElse("SPARK_GRAFT_NP_MODEL",
    "/root/reference/minedatabase/NP_Score/publicnp.model.gz")
  def npModelPresent: Boolean = new java.io.File(npModelPath).isFile

  private def engine(s: org.apache.spark.sql.SparkSession): PickaxeEngine = {
    val core = PickaxeEngine.parseCoreactants(Seq(
      s"ATP\tATP\t$atp", s"ADP\tADP\t$adp"))
    val rules = PickaxeEngine.parseRules(
      Seq(s"2.7.1.a\tATP;Any\t$phosphorylation\tAny;ADP\t-"), core)
    new PickaxeEngine(s, rules, core, explicitH = true)
  }

  /** Shared adduct-search fixture (q_pickaxe_mass_search /
    * q_pickaxe_likelihood): 1-gen FADH expansion, peaks derived from
    * the ENGINE-computed masses — a hard-coded m/z silently missed the
    * tolerance window and returned 0 rows in round 2. All 7 gen-1
    * products are isomers, so the Type->Mass map is well defined.
    */
  private def adductFixture(
      s: org.apache.spark.sql.SparkSession,
      withDecoy: Boolean)
      : (NetworkState, org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    val st = engine(s).run(Seq(fadh), generations = 1)
    val massOf = st.compounds
      .where(col("Type").isin("Predicted", "Starting Compound"))
      .select("Type", "Mass").as[(String, Double)]
      .collect().toMap
    val rows =
      Seq(("pk1", massOf("Predicted") + 1.007276, "+")) ++
        (if (withDecoy) Seq(("pk2", 200.05, "+")) else Nil) ++
        Seq(("pk3", massOf("Starting Compound") - 1.007276, "-"))
    (st, rows.toDF("name", "mz", "charge"))
  }


  // Public fixture data: the 26 (SMILES, NP_likeness) pairs shipped in
  // the reference's tests/data/testing_db.json (P12 oracle molecules)
    private val npOracleMols: Seq[(String, String)] = Seq(
      ("m01", "C=Cc1c2[nH]c(c1C)Cc1[nH]c(c(CCC(=O)O)c1C)Cc1[nH]c(c(C)c1CCC(=O)O)Cc1[nH]c(c(C)c1C=C)C2"),
      ("m02", "CC(O)=NC1=COC(CO)C(OC2OC(CO)C(OC3OC(CO)C(OC4OC(CO)C(O)C(O)C4N=C(C)O)C(OC(C)C(O)=NC(C)C(O)=NC(CCC(=O)O)C(O)=NC(CCCC(N)C(=O)O)C(O)=NC(C)C(=O)O)C3N=C(C)O)C(O)C2N=C(C)O)C1OC(C)C(O)=NC(C)C(O)=NC(CCC(=O)O)C(O)=NC(CCCC(N)C(=O)O)C(O)=NC(C)C(=O)O"),
      ("m03", "CCC(=O)C(=O)O"),
      ("m04", "CCCCCCCCCCCCC[C@H](O)CC(=O)SCCN=C(O)CCN=C(O)[C@H](O)C(C)(C)COP(=O)(O)OP(=O)(O)OC[C@H]1O[C@@H](n2cnc3c(N)ncnc32)[C@H](O)[C@@H]1OP(=O)(O)O"),
      ("m05", "CCCCCCCCCCC[C@@H](O)CC(=O)O[C@H]1[C@H](O)[C@@H](CO)O[C@@H](OC[C@H]2O[C@H](OP(=O)(O)O)[C@H](N=C(O)C[C@H](O)CCCCCCCCCCC)[C@@H](OC(=O)C[C@H](O)CCCCCCCCCCC)[C@@H]2O)[C@@H]1N=C(O)C[C@H](O)CCCCCCCCCCC"),
      ("m06", "CSCC[C@@H](N)C(=O)O"),
      ("m07", "C[C@H](N)C(O)=N[C@@H](CCC(=O)O)C(=O)O"),
      ("m08", "Cc1cc2c(cc1C)N(CC(O)C(O)C(COP(=O)(O)OP(=O)(O)OCC1OC(n3cnc4c(N)ncnc43)C(O)C1O)OP(=O)(O)O)c1nc(O)nc(O)c1N2"),
      ("m09", "Cc1cc2c(cc1C)N(CC(O)C(O)C(O)COP(=O)(O)OP(=O)(O)OCC1OC(n3cnc4c(N)ncnc43)C(O)C1O)c1nc(O)nc(O)c1N2"),
      ("m10", "Cc1cc2c(cc1C)N(CC(O)C(O)C(O)COP(=O)(O)OP(=O)(O)OCC1OC(n3cnc4c(N)ncnc43)C(O)C1O)c1nc(O)nc(OP(=O)(O)O)c1N2"),
      ("m11", "Cc1cc2c(cc1C)N(CC(O)C(O)C(O)COP(=O)(O)OP(=O)(O)OCC1OC(n3cnc4c(N)ncnc43)C(O)C1O)c1nc(OP(=O)(O)O)nc(O)c1N2"),
      ("m12", "Cc1cc2c(cc1C)N(CC(O)C(O)C(O)COP(=O)(O)OP(=O)(O)OCC1OC(n3cnc4c(N)ncnc43)C(O)C1OP(=O)(O)O)c1nc(O)nc(O)c1N2"),
      ("m13", "Cc1cc2c(cc1C)N(CC(O)C(O)C(O)COP(=O)(O)OP(=O)(O)OCC1OC(n3cnc4c(N)ncnc43)C(OP(=O)(O)O)C1O)c1nc(O)nc(O)c1N2"),
      ("m14", "Cc1cc2c(cc1C)N(CC(O)C(OP(=O)(O)O)C(O)COP(=O)(O)OP(=O)(O)OCC1OC(n3cnc4c(N)ncnc43)C(O)C1O)c1nc(O)nc(O)c1N2"),
      ("m15", "Cc1cc2c(cc1C)N(CC(OP(=O)(O)O)C(O)C(O)COP(=O)(O)OP(=O)(O)OCC1OC(n3cnc4c(N)ncnc43)C(O)C1O)c1nc(O)nc(O)c1N2"),
      ("m16", "Cc1ncc(CO)c(=N)[nH]1"),
      ("m17", "Cc1ncc(COP(=O)(O)O)c(C=O)c1O"),
      ("m18", "N#CS"),
      ("m19", "NCCCC=O"),
      ("m20", "NCCc1ccc(O)cc1"),
      ("m21", "Nc1ncnc2c1ncn2[C@@H]1O[C@H](COP(=O)(O)OP(=O)(O)O)[C@@H](O)[C@H]1O"),
      ("m22", "Nc1ncnc2c1ncn2[C@@H]1O[C@H](COP(=O)(O)OP(=O)(O)OP(=O)(O)O)[C@@H](O)[C@H]1O"),
      ("m23", "O=P(O)(O)O"),
      ("m24", "O=P(O)(O)O[C@H]1O[C@H](CO)[C@H](O)[C@H](O)[C@H]1O"),
      ("m25", "OC[C@H]1OC(O)[C@H](O)[C@@H](O)[C@@H]1O"),
      ("m26", "OC[C@H]1OC(O)[C@H](O)[C@H](O)[C@@H]1O")
    )

  override def queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q_pickaxe_expand", Seq("E1", "E2", "E3", "E4", "E5", "E6", "E7",
        "D1", "D2", "A1", "J1", "J2", "S2", "S4", "S5"),
      (s, _) => {
        val st = engine(s).run(Seq(fadh), generations = 2)
        st.compounds.groupBy("Generation", "Type")
          .agg(count(lit(1)).as("n_compounds"))
          .crossJoin(st.reactions.agg(count(lit(1)).as("n_reactions_total")))
          .orderBy("Generation", "Type")
      },
      // pinned to the reference's own oracle network (test_pickaxe.py:
      // 31 compounds / 49 reactions; 2 coreactants + 1 start + 7 gen-1 +
      // 21 gen-2), also asserted by PickaxeSpec
      Some("""SELECT 0::INTEGER AS "Generation", 'Coreactant' AS "Type",
            2::BIGINT AS n_compounds, 49::BIGINT AS n_reactions_total
          UNION ALL SELECT 0::INTEGER, 'Starting Compound', 1::BIGINT, 49::BIGINT
          UNION ALL SELECT 1::INTEGER, 'Predicted', 7::BIGINT, 49::BIGINT
          UNION ALL SELECT 2::INTEGER, 'Predicted', 21::BIGINT, 49::BIGINT"""),
      "Full 2-generation FADH x 2.7.1.a expansion (the reference's 31/49 " +
        "oracle network) through the Spark engine; per-gen/type counts."),

    GraftQuery(
      "q_pickaxe_prune", Seq("D4", "D5", "J5", "W1"),
      (s, _) => {
        val e = engine(s)
        val st = e.run(Seq(fadh), generations = 2)
        // prune to the double-phosphorylated target (test_targets.csv)
        val target = "Cc1cc2c(cc1C)N(CC(OP(=O)(O)O)C(OP(=O)(O)O)C(O)COP" +
          "(=O)(O)OP(=O)(O)OCC1OC(n3cnc4c(N)ncnc43)C(O)C1O)c1nc(O)nc(O)c1N2"
        val pruned = e.assignIds(e.pruneToTargets(st, Seq(target)))
        pruned.compounds.select("ID", "Type", "Generation", "Formula")
          .orderBy("ID")
      },
      // pinned: the reference's minimal 6-compound pruned network
      // (test_pickaxe.py:218-220) with dense W1 ids and kernel formulas
      Some("""SELECT 'pkc0000001' AS "ID", 'Starting Compound' AS "Type",
            0::INTEGER AS "Generation", 'C27H35N9O15P2' AS "Formula"
          UNION ALL SELECT 'pkc0000002', 'Coreactant', 0::INTEGER, 'C10H16N5O13P3'
          UNION ALL SELECT 'pkc0000003', 'Coreactant', 0::INTEGER, 'C10H15N5O10P2'
          UNION ALL SELECT 'pkc0000004', 'Predicted', 1::INTEGER, 'C27H36N9O18P3'
          UNION ALL SELECT 'pkc0000005', 'Predicted', 1::INTEGER, 'C27H36N9O18P3'
          UNION ALL SELECT 'pkc0000006', 'Predicted', 2::INTEGER, 'C27H37N9O21P4'"""),
      "Reverse-BFS prune to a target (6-compound / 4-reaction minimal " +
        "network, matching test_pickaxe.py:218-220) + dense id assignment."),

    GraftQuery(
      "q_pickaxe_simgate", Seq("W8", "P5", "A10"),
      (s, _) => {
        // Increasing-similarity gate (similarity.py:661-667, W8): expand
        // FADH two generations toward the double-phospho target with
        // crit=0 so ONLY the monotonicity gate acts — every generation-g
        // compound must be at least as similar to the target as one of
        // its parents, or it is killed and cascade-removed. Morgan
        // fingerprints (bit-identical to RDKit's) make the similarity
        // values — and so the survivor set — exactly reproducible.
        val target = "Cc1cc2c(cc1C)N(CC(OP(=O)(O)O)C(OP(=O)(O)O)C(O)COP" +
          "(=O)(O)OP(=O)(O)OCC1OC(n3cnc4c(N)ncnc43)C(O)C1O)c1nc(O)nc(O)c1N2"
        val gate = TanimotoCutoffFilter(Seq(target), Seq(0.0),
          fingerprintMethod = "morgan", increasingSimilarity = true)
        // generation 0 -> 1 is provably identical in both runs (the
        // increasing gate never fires on generation 0 — no parents —
        // and crit=0 blocks nothing; FilterParitySpec pins that), so
        // expand it ONCE and fork the second generation
        val e = engine(s)
        val st1 = e.expandOnce(e.initialState(Seq(fadh)))
        val gated = e.expandOnce(st1, Seq(gate))
        val open = e.expandOnce(st1)
        def counts(st: NetworkState, label: String) =
          st.compounds.where(col("Type") === "Predicted")
            .groupBy("Generation")
            .agg(count(lit(1)).as("n_compounds"))
            .crossJoin(st.reactions.agg(count(lit(1)).as("n_reactions")))
            .withColumn("run", lit(label))
        counts(gated, "gated").unionByName(counts(open, "open"))
          .select("run", "Generation", "n_compounds", "n_reactions")
          .orderBy("run", "Generation")
      },
      // pinned: the gate kills 4 of the 7 gen-1 phospho isomers (their
      // Morgan similarity to the double-phospho target is below
      // FADH's own) and cascade-removes their reactions; the 3
      // survivors expand to 15 gen-2 compounds over 21 reactions,
      // vs the open run's 7/21/49 network
      Some("""SELECT 'gated' AS run, 1::INTEGER AS "Generation",
            3::BIGINT AS n_compounds, 21::BIGINT AS n_reactions
          UNION ALL SELECT 'gated', 2::INTEGER, 15::BIGINT, 21::BIGINT
          UNION ALL SELECT 'open', 1::INTEGER, 7::BIGINT, 49::BIGINT
          UNION ALL SELECT 'open', 2::INTEGER, 21::BIGINT, 49::BIGINT"""),
      "Increasing-similarity gate (W8): non-improving frontier " +
        "compounds are killed before expansion; gated vs open run " +
        "pinned side by side."),

    GraftQuery(
      "q_pickaxe_mass_search", Seq("J6", "S9", "A6", "P4", "P13"),
      (s, _) => {
        // gen-1 phospho-FADH as [M+H]+, FADH itself as [M-H]-, a decoy
        val (st, peaks) = adductFixture(s, withDecoy = true)
        val hits = MassSearch.adductSearch(s, st.compounds, peaks,
          tol = 0.01)
        MassSearch.peakStats(hits).orderBy("peak")
      },
      // pinned hit pattern: pk1 matches the 7 gen-1 mono-phospho isomers
      // (one shared formula), pk3 matches FADH only, pk2 matches nothing
      // (masses differ by ~80 Da across the network, tol is 0.01)
      Some("""SELECT 'pk1' AS peak, 7::BIGINT AS total_hits,
            1::BIGINT AS n_formulas, 7::BIGINT AS n_compounds
          UNION ALL
          SELECT 'pk3', 1::BIGINT, 1::BIGINT, 1::BIGINT"""),
      "Mass/adduct window search over the expanded network: peaks x " +
        "adducts broadcast -> bucketed interval join -> per-peak stats."),

    GraftQuery(
      "q_mass_search_scale", Seq("J6", "A6", "S9", "P4"),
      (s, dir) => {
        // CATALOG-SCALE J6: the same MassSearch.adductSearch surface
        // the fixture query pins, driven with THOUSANDS of (peak,
        // adduct) ppm windows against the scale factor's mass column —
        // the reference's hot web-API path (metabolomics.py:211-236,
        // ms_adduct_search) at the load a real MINE serves, proving
        // the bucketed interval-join discipline holds when the ranges
        // side stops being broadcast-trivial. Peaks come from orders
        // (1 in 100, alternating polarity), the compound catalog from
        // part (retail price as the mass spectrum, a deterministic
        // pseudo-formula carrying a halogen sliver so the P4 exclusion
        // regex runs at scale). ppm tolerance exercises the
        // per-window width branch; bucketWidth 1.0 keeps every window
        // in <= 2 buckets. The oracle replays the identical double
        // arithmetic relationally in DuckDB.
        val compounds = graft.Tables.load(s, dir, "part")
          .select(col("p_partkey").as("_id"),
            lit("C").as("SMILES"),
            when(col("p_partkey") % 7 === 0,
              concat(lit("C6Cl"), col("p_partkey") % 50))
              .otherwise(concat(lit("C"), col("p_partkey") % 50))
              .as("Formula"),
            col("p_retailprice").as("Mass"),
            lit(0).as("Charge"))
        val peaks = graft.Tables.load(s, dir, "orders")
          .where(col("o_orderkey") % 10 === 0)
          .select(concat(lit("pk"), col("o_orderkey")).as("name"),
            (col("o_totalprice") / lit(100.0)).as("mz"),
            when(col("o_orderkey") % 20 === 0, "+").otherwise("-")
              .as("charge"))
        val adducts = Seq(
          AdductRow("[M+H]+", 1.0, 1.007276),
          AdductRow("[M+Na]+", 1.0, 22.989218),
          AdductRow("[M+2H]2+", 2.0, 2.014552),
          AdductRow("[M-H]-", 1.0, -1.007276),
          AdductRow("[M-2H]2-", 2.0, -2.014552),
          AdductRow("[2M-H]-", 0.5, -1.007276))
        val hits = MassSearch.adductSearch(s, compounds, peaks,
          adducts = adducts, tol = 20.0, ppm = true, bucketWidth = 1.0)
        hits.groupBy("adduct")
          .agg(count(lit(1)).as("n_hits"),
            countDistinct("peak").as("n_peaks"),
            countDistinct("Formula").as("n_formulas"),
            sum("_id").as("id_sum"))
          .orderBy("adduct")
      },
      Some("""WITH ad(adduct, mult, ion) AS (VALUES
            ('[M+H]+', 1.0, 1.007276),
            ('[M+Na]+', 1.0, 22.989218),
            ('[M+2H]2+', 2.0, 2.014552),
            ('[M-H]-', 1.0, -1.007276),
            ('[M-2H]2-', 2.0, -2.014552),
            ('[2M-H]-', 0.5, -1.007276)),
          pk AS (SELECT 'pk' || o_orderkey AS peak,
              o_totalprice / 100.0 AS mz,
              CASE WHEN o_orderkey % 20 = 0 THEN '+' ELSE '-' END
                AS charge
            FROM orders WHERE o_orderkey % 10 = 0),
          r AS (SELECT peak, adduct, (mz - ion) / mult AS pm
            FROM pk, ad
            WHERE (charge = '+' AND ion > 0)
               OR (charge = '-' AND ion < 0)),
          rr AS (SELECT peak, adduct,
              pm - pm * 20.0 / 1e6 AS lo, pm + pm * 20.0 / 1e6 AS hi
            FROM r),
          cp AS (SELECT p_partkey AS id, p_retailprice AS mass,
              CASE WHEN p_partkey % 7 = 0
                THEN 'C6Cl' || (p_partkey % 50)
                ELSE 'C' || (p_partkey % 50) END AS formula
            FROM part),
          cpf AS (SELECT * FROM cp
            WHERE NOT regexp_matches(formula, 'F[^e]|Cl|Br')),
          h AS (SELECT rr.adduct, rr.peak, cpf.id, cpf.formula
            FROM rr JOIN cpf ON cpf.mass >= rr.lo AND cpf.mass <= rr.hi)
        SELECT adduct, count(*)::BIGINT AS n_hits,
          count(DISTINCT peak)::BIGINT AS n_peaks,
          count(DISTINCT formula)::BIGINT AS n_formulas,
          sum(id)::BIGINT AS id_sum
        FROM h GROUP BY 1 ORDER BY 1"""),
      "Catalog-scale mass/adduct search: thousands of ppm windows " +
        "through the bucketed interval join (each window <= 2 buckets, " +
        "plain equi-join shuffle, no BNLJ), halogen exclusion at " +
        "scale, per-adduct hit statistics."),

    GraftQuery(
      "q_pickaxe_likelihood", Seq("J6", "S9", "A6"),
      (s, _) => {
        // score_compounds (metabolomics.py:1209-1269): native-set
        // members 0.75, derived compounds 0.25 — over the same
        // adduct-search fixture as q_pickaxe_mass_search (no decoy)
        val (st, peaks) = adductFixture(s, withDecoy = false)
        val hits = MassSearch.adductSearch(s, st.compounds, peaks,
          tol = 0.01)
        val natives = st.compounds
          .where(col("Type") === "Starting Compound").select("_id")
        MassSearch.scoreCompounds(hits, natives)
          .groupBy("peak", "likelihood_score")
          .agg(count(lit(1)).as("n_hits"))
          .orderBy("peak")
      },
      // pinned: pk1's 7 predicted isomers are derived (0.25); pk3 hits
      // the native starting compound alone (0.75)
      Some("""SELECT 'pk1' AS peak, 0.25::DOUBLE AS likelihood_score,
            7::BIGINT AS n_hits
          UNION ALL SELECT 'pk3', 0.75, 1"""),
      "Likelihood scoring over adduct-search hits: native-set members " +
        "0.75, derived compounds 0.25 (score_compounds)."),

    GraftQuery(
      "q_chem_npscore", Seq("P12"),
      (s, _) => {
        import s.implicits._
        // Score through the SINK surface (MineSink.coreCompounds, the
        // databases.py:536-572 enrichment), not a bare scorer UDF — the
        // same path a save_to_mine run takes. Without the model file the
        // query fails by name: the stub scorer's values are not NP
        // scores, and would only read as 26 oracle mismatches.
        if (!npModelPresent)
          throw new java.io.FileNotFoundException(
            s"q_chem_npscore needs the NP model: $npModelPath not found " +
              "(set SPARK_GRAFT_NP_MODEL to publicnp.model.gz)")
        val compounds = npOracleMols.toDF("mol_id", "smiles")
          .repartition(4)
          .select(col("mol_id").as("_id"), col("smiles").as("SMILES"),
            lit("").as("Formula"), lit(0).as("Charge"),
            lit(0.0).as("Mass"), lit("Predicted").as("Type"))
        val state = graft.pickaxe.NetworkState(
          compounds, compounds.limit(0), 0)
        graft.pickaxe.MineSink
          .coreCompounds(state, "np_oracle", Some(npModelPath))
          .select(col("_id").as("mol_id"),
            col("NP_likeness").as("np_likeness"))
          .orderBy("mol_id")
      },
      // pinned: the reference's own shipped NP_likeness values,
      // reproduced bit-exactly by the Morgan + unpickled-model chain
      // (NPScoreParitySpec pins the unrounded values to 1e-9)
      Some("""SELECT 'm01' AS mol_id, 0.173556::DOUBLE AS np_likeness
          UNION ALL SELECT 'm02', 0.48522
          UNION ALL SELECT 'm03', 0.645647
          UNION ALL SELECT 'm04', 0.7183
          UNION ALL SELECT 'm05', 0.676793
          UNION ALL SELECT 'm06', 0.342829
          UNION ALL SELECT 'm07', 0.668539
          UNION ALL SELECT 'm08', 0.63099
          UNION ALL SELECT 'm09', 0.724148
          UNION ALL SELECT 'm10', 0.733643
          UNION ALL SELECT 'm11', 0.76836
          UNION ALL SELECT 'm12', 0.704722
          UNION ALL SELECT 'm13', 0.755082
          UNION ALL SELECT 'm14', 0.628778
          UNION ALL SELECT 'm15', 0.688906
          UNION ALL SELECT 'm16', -0.147596
          UNION ALL SELECT 'm17', 0.845667
          UNION ALL SELECT 'm18', -1.160918
          UNION ALL SELECT 'm19', 1.953252
          UNION ALL SELECT 'm20', 0.758338
          UNION ALL SELECT 'm21', 1.388354
          UNION ALL SELECT 'm22', 1.343896
          UNION ALL SELECT 'm23', 0.556819
          UNION ALL SELECT 'm24', 2.150849
          UNION ALL SELECT 'm25', 2.626913
          UNION ALL SELECT 'm26', 2.626913"""),
      "NP-likeness scoring through the bit-exact Morgan + real-model " +
        "chain over the reference's 26 shipped oracle molecules."),

    GraftQuery(
      "q_pickaxe_ms2", Seq("J10", "A11", "W4", "J6", "S9"),
      (s, _) => {
        import s.implicits._
        val st = engine(s).run(Seq(fadh), generations = 1)
        // fixture construction (driver-side, 8 rows): deterministic
        // spectra keyed by the engine's content-hash ids — the i-th
        // gen-1 isomer (sorted by _id) gets peaks (100,1),(200,i+1) so
        // every spectral cosine against the probe (100,1),(200,1) is a
        // distinct hand-computable score: (1+w)/sqrt(2(1+w^2))
        val gen1 = st.compounds.where(col("Generation") === 1)
          .select("_id").as[String].collect().sorted
        val fadhRow = st.compounds
          .where(col("Type") === "Starting Compound")
          .select("_id", "Mass").as[(String, Double)].collect().head
        val isoMass = st.compounds.where(col("Generation") === 1)
          .select("Mass").as[Double].head()
        val spectra = (gen1.toSeq.zipWithIndex.map { case (id, i) =>
          (id, Seq((100.0, 1.0), (200.0, (i + 1).toDouble)))
        } :+ (fadhRow._1 -> Seq((150.0, 1.0))))
          .toDF("c_id", "spectrum")
        val labels = (gen1.toSeq.zipWithIndex.map { case (id, i) =>
          (id, s"iso${i + 1}")
        } :+ (fadhRow._1 -> "fadh")).toDF("_id", "label")
        val peaks = Seq(
          ("pk1", isoMass + 1.007276, "+",
            Seq((100.0, 1.0), (200.0, 1.0))),
          ("pk2", fadhRow._2 - 1.007276, "-", Seq((150.0, 1.0))))
          .toDF("name", "mz", "charge", "ms2")
        MassSearch.ms2Search(s, st.compounds, peaks, spectra, tol = 0.01)
          .join(broadcast(labels), Seq("_id"))
          .select("peak", "adduct", "label", "spectral_score", "rank")
          .orderBy("peak", "rank")
      },
      // pinned: the 7 mono-phospho isomers all fall in pk1's [M+H]+
      // window and rank by their distinct cosine scores
      // round(1000*(1+w)/sqrt(2(1+w^2))) for w=1..7; pk2's [M-H]- window
      // holds FADH alone with a perfect-match spectrum (score 1000)
      Some("""SELECT 'pk1' AS peak, '[M+H]+' AS adduct, 'iso1' AS label,
            1000.0::DOUBLE AS spectral_score, 1::INTEGER AS "rank"
          UNION ALL SELECT 'pk1', '[M+H]+', 'iso2', 949.0, 2
          UNION ALL SELECT 'pk1', '[M+H]+', 'iso3', 894.0, 3
          UNION ALL SELECT 'pk1', '[M+H]+', 'iso4', 857.0, 4
          UNION ALL SELECT 'pk1', '[M+H]+', 'iso5', 832.0, 5
          UNION ALL SELECT 'pk1', '[M+H]+', 'iso6', 814.0, 6
          UNION ALL SELECT 'pk1', '[M+H]+', 'iso7', 800.0, 7
          UNION ALL SELECT 'pk2', '[M-H]-', 'fadh', 1000.0, 1"""),
      "MS2 spectral search end to end through the engine: adduct-window " +
        "annotation (J6) -> per-isomer spectral cosine vs the probe " +
        "spectrum (J10/A11) -> per-peak rank (W4)."),

    GraftQuery(
      "q_pickaxe_ms2_jaccard", Seq("J10", "A11", "W4", "J6", "S9"),
      (s, _) => {
        import s.implicits._
        // The reference's OTHER two metabolomics modes, pinned: jaccard
        // spectral scoring (metabolomics.py:435-460) and ppm mass
        // tolerance (:213-216). Isomer i's spectrum is the first i of
        // {100..700}, the probe is {100..400}: jaccard = min(i,4) /
        // (i + 4 - min(i,4)) — seven distinct hand-computable scores.
        val st = engine(s).run(Seq(fadh), generations = 1)
        val gen1 = st.compounds.where(col("Generation") === 1)
          .select("_id").as[String].collect().sorted
        val fadhRow = st.compounds
          .where(col("Type") === "Starting Compound")
          .select("_id", "Mass").as[(String, Double)].collect().head
        val isoMass = st.compounds.where(col("Generation") === 1)
          .select("Mass").as[Double].head()
        val spectra = (gen1.toSeq.zipWithIndex.map { case (id, i) =>
          (id, (1 to i + 1).map(k => (k * 100.0, 1.0)))
        } :+ (fadhRow._1 -> Seq((150.0, 1.0))))
          .toDF("c_id", "spectrum")
        val labels = (gen1.toSeq.zipWithIndex.map { case (id, i) =>
          (id, s"iso${i + 1}")
        } :+ (fadhRow._1 -> "fadh")).toDF("_id", "label")
        val peaks = Seq(
          ("pk1", isoMass + 1.007276, "+",
            (1 to 4).map(k => (k * 100.0, 1.0))),
          ("pk2", fadhRow._2 - 1.007276, "-", Seq((150.0, 1.0))))
          .toDF("name", "mz", "charge", "ms2")
        MassSearch.ms2Search(s, st.compounds, peaks, spectra,
          tol = 10, ppm = true, useJaccard = true)
          .join(broadcast(labels), Seq("_id"))
          .select("peak", "adduct", "label", "spectral_score", "rank")
          .orderBy("peak", "rank")
      },
      // pinned: round(1000 * min(i,4)/(i+4-min(i,4))) for i=1..7 ranked
      // desc — the 10 ppm window (~0.0087 Da at m/z 867) still admits
      // every isomer (identical masses) and FADH alone for pk2
      Some("""SELECT 'pk1' AS peak, '[M+H]+' AS adduct, 'iso4' AS label,
            1000.0::DOUBLE AS spectral_score, 1::INTEGER AS "rank"
          UNION ALL SELECT 'pk1', '[M+H]+', 'iso5', 800.0, 2
          UNION ALL SELECT 'pk1', '[M+H]+', 'iso3', 750.0, 3
          UNION ALL SELECT 'pk1', '[M+H]+', 'iso6', 667.0, 4
          UNION ALL SELECT 'pk1', '[M+H]+', 'iso7', 571.0, 5
          UNION ALL SELECT 'pk1', '[M+H]+', 'iso2', 500.0, 6
          UNION ALL SELECT 'pk1', '[M+H]+', 'iso1', 250.0, 7
          UNION ALL SELECT 'pk2', '[M-H]-', 'fadh', 1000.0, 1"""),
      "MS2 search in the reference's jaccard-scoring + ppm-tolerance " +
        "modes: 10 ppm adduct windows, set-overlap spectral scores, " +
        "per-peak rank."),

    GraftQuery(
      "q_pickaxe_met_filter", Seq("J6", "S9", "A6", "D6", "P13"),
      (s, _) => {
        import s.implicits._
        // self-contained metabolomics-guided expansion (reference
        // test_filters.py:232-252 shape): deaminate/hydrate
        // 5'-deoxyadenosine + succinate under a peak filter; only the
        // deoxyinosine product matches the 253.09337 [M+H]+ peak, every
        // other gen-1 compound is removed by the cascade
        val deoxyadenosine = "CC1OC(n2cnc3c(N)ncnc32)C(O)C1O"
        val succinate = "O=C(O)CCC(=O)O"
        // WATER drives the rules; NH3 makes the deamination byproduct a
        // cofactor (X-id) like the metacyc coreactant list does
        val core = PickaxeEngine.parseCoreactants(Seq(
          "WATER\tWATER\tO", "NH3\tNH3\tN"))
        val rules = PickaxeEngine.parseRules(Seq(
          "deaminate\tAny;WATER\t[#6:1]-[#7:2].[#8:3]>>[#6:1]-[#8:3].[#7:2]\tAny;Any\t-",
          "hydrolyze\tAny;WATER\t[#6:1]-[#8:2].[#8:3]>>[#6:1]-[#8:3].[#8:2]\tAny;Any\t-"),
          core)
        val peaks = Seq(
          PeakRow("Test3", 26.29, 253.09337, "+", Nil),
          PeakRow("decoy", 1.0, 999.0, "+", Nil))
        val f = MetabolomicsFilter(peaks, tol = 0.001)
        val e = new PickaxeEngine(s, rules, core)
        val st = e.run(Seq(deoxyadenosine, succinate), generations = 2,
          filters = Seq(f))
        f.annotate(st.compounds.where(col("Generation") === 1))
          .select(col("Formula"),
            explode(col("Matched_Peak_IDs")).as("peak"))
          .crossJoin(st.compounds.where(col("Generation") === 1)
            .agg(count(lit(1)).as("n_gen1_survivors")))
          .orderBy("Formula", "peak")
      },
      // pinned: the deamination product (deoxyinosine, C10H12N4O4,
      // 252.0859 Da) is the ONLY gen-1 survivor and matches Test3
      Some("""SELECT 'C10H12N4O4' AS "Formula", 'Test3' AS peak,
            1::BIGINT AS n_gen1_survivors"""),
      "Metabolomics-guided expansion: peak-window filter blocks and " +
        "cascade-removes every non-matching gen-1 compound; the " +
        "matching compound carries Matched_Peak_IDs annotations."),

    GraftQuery(
      "q_pickaxe_thermo", Seq("A2", "A3", "D6"),
      (s, _) => {
        val e = engine(s)
        // thermo filters the PREVIOUS expansion's reactions at the start
        // of each generation (like the reference's transform_all loop),
        // so a 2-generation run exercises delete-vs-keep. ThermoFilter
        // is provably a no-op on the initial state (no reactions exist
        // yet, and it blocks nothing compound-side), so generation 1 is
        // filter-independent: expand it ONCE (expandOnce's outputs are
        // persisted+checkpointed) and branch only generation 2 — the
        // permissive and blocking modes each pay one generation instead
        // of two.
        val st1 = e.run(Seq(fadh), generations = 1)
        def n(f: Seq[NetworkFilter]) = {
          val st = e.expandOnce(st1, f)
          (st.reactions.count(), st.compounds.count())
        }
        val (rAll, cAll) = n(Seq(ThermoFilter(dgMax = 1e7)))
        val (rNone, cNone) = n(Seq(ThermoFilter(dgMax = -1e7)))
        import s.implicits._
        Seq(("permissive", rAll, cAll), ("blocking", rNone, cNone))
          .toDF("mode", "n_reactions", "n_compounds")
          .orderBy("mode")
      },
      // pinned: permissive dgMax keeps the full 31/49 network; blocking
      // dgMax deletes every gen-1 reaction at the start of generation 2,
      // the orphan cascade removes all 7 gen-1 compounds, and nothing is
      // left to expand (3 = start + 2 coreactants remain)
      Some("""SELECT 'blocking' AS mode, 0::BIGINT AS n_reactions,
            3::BIGINT AS n_compounds
          UNION ALL SELECT 'permissive', 49::BIGINT, 31::BIGINT"""),
      "Thermodynamic gate over the expansion: reactions with dG above " +
        "the cutoff are deleted and orphaned products cascade away."),

    GraftQuery(
      "q_thermo_legendre", Seq("A12"),
      (s, _) => {
        import s.implicits._
        // Alberty Legendre transform over a (species x pH x I) grid —
        // the arithmetic behind the reference's dg_prime_from_rid
        // (thermodynamics.py:300-360), dual-computed: Spark evaluates
        // Thermodynamics.legendreCol, the oracle re-derives the SAME
        // published formula (RT·ln10 pH term + extended Debye–Hückel)
        // from first principles in SQL. Literal rows, join-free plan.
        val rows = for {
          (name, sps) <- graft.chem.Thermodynamics.speciesTable.toSeq
            .sortBy(_._1)
          (sp, idx) <- sps.zipWithIndex
          ph <- Seq(5.0, 6.0, 7.0, 8.0, 9.0)
          i <- Seq(0.0, 0.1, 0.25)
        } yield (name, idx, sp.dGf0, sp.nH.toDouble, sp.charge.toDouble,
          sp.nMg.toDouble, ph, i)
        rows.toDF("compound", "ms", "dgf0", "nh", "z", "nmg", "ph", "ionic")
          .withColumn("dgf_prime",
            round(graft.chem.Thermodynamics.legendreCol(
              col("dgf0"), col("nh"), col("z"), col("nmg"),
              col("ph"), col("ionic"), lit(14.0)), 6))
          .select("compound", "ms", "ph", "ionic", "dgf_prime")
          .orderBy("compound", "ms", "ph", "ionic")
      },
      Some(s"""
        WITH sp(compound, ms, dgf0, nh, z, nmg) AS (VALUES
          ${
        // the oracle's species list is GENERATED from the same
        // speciesTable the Spark side iterates, so extending the
        // published Alberty table can never desynchronize the gate
        (for {
          (name, sps) <- graft.chem.Thermodynamics.speciesTable.toSeq
            .sortBy(_._1)
          (sp, idx) <- sps.zipWithIndex
        } yield s"('$name', $idx, ${sp.dGf0}, ${sp.nH}.0, " +
          s"${sp.charge}.0, ${sp.nMg}.0)").mkString(",\n          ")
      }),
        ph(ph) AS (VALUES (5.0), (6.0), (7.0), (8.0), (9.0)),
        ionic(ionic) AS (VALUES (0.0), (0.1), (0.25)),
        c AS (SELECT 8.314462618e-3 * 298.15 * ln(10) AS rtln10,
          9.20483e-3 * 298.15 - 1.284668e-5 * 298.15 * 298.15
            + 4.95199e-8 * 298.15 * 298.15 * 298.15 AS alpha)
        SELECT compound, ms, ph, ionic,
          round(dgf0 + nh * rtln10 * ph
              + nmg * (rtln10 * 14.0 - (-455.3))
              - alpha * sqrt(ionic) / (1 + 1.6 * sqrt(ionic))
                * (z * z - nh - 4 * nmg), 6) AS dgf_prime
        FROM sp, ph, ionic, c"""),
      "Transformed formation energies dG'f(pH, I) for the Alberty " +
        "species table: the pH term and extended Debye-Huckel ionic " +
        "correction, Spark column arithmetic vs the same published " +
        "formula re-derived in SQL."),

    GraftQuery(
      "q_thermo_atp", Seq("A12"),
      (s, _) => {
        import s.implicits._
        val th = graft.chem.Thermodynamics
        // ATP + H2O -> ADP + Pi with pseudoisomer (protonation-state)
        // group averaging -RT·ln Σ exp(-G'/RT) — reproduces Alberty's
        // published -36.04 kJ/mol at pH 7, I = 0.25 M (Mg-free). The
        // log-sum-exp is min-stabilized identically on both sides.
        val rows = for {
          (name, sps) <- th.speciesTable.toSeq.sortBy(_._1)
          sp <- sps
          ph <- Seq(5.0, 6.0, 7.0, 8.0, 9.0)
          i <- Seq(0.0, 0.25)
        } yield (name, sp.dGf0, sp.nH.toDouble, sp.charge.toDouble,
          sp.nMg.toDouble, ph, i)
        rows.toDF("compound", "dgf0", "nh", "z", "nmg", "ph", "ionic")
          .withColumn("gf", th.legendreCol(
            col("dgf0"), col("nh"), col("z"), col("nmg"),
            col("ph"), col("ionic"), lit(14.0)))
          .groupBy("compound", "ph", "ionic")
          .agg(min("gf").as("mn"), collect_list("gf").as("gs"))
          .withColumn("gfp", col("mn") - lit(th.rt()) * log(expr(
            s"aggregate(gs, 0.0D, (acc, g) -> acc + exp((mn - g) / ${th.rt()}))")))
          .groupBy("ph", "ionic")
          .agg(
            max(when(col("compound") === "atp", col("gfp"))).as("g_atp"),
            max(when(col("compound") === "adp", col("gfp"))).as("g_adp"),
            max(when(col("compound") === "pi", col("gfp"))).as("g_pi"),
            max(when(col("compound") === "water", col("gfp"))).as("g_water"))
          .withColumn("dgr_prime", round(
            col("g_adp") + col("g_pi") - col("g_atp") - col("g_water"), 6))
          .select("ph", "ionic", "dgr_prime")
          .orderBy("ph", "ionic")
      },
      Some("""
        WITH sp(compound, dgf0, nh, z, nmg) AS (VALUES
          ('adp', -1906.13, 12.0, -3.0, 0.0),
          ('adp', -1947.10, 13.0, -2.0, 0.0),
          ('atp', -2768.10, 12.0, -4.0, 0.0),
          ('atp', -2811.48, 13.0, -3.0, 0.0),
          ('pi', -1096.10, 1.0, -2.0, 0.0),
          ('pi', -1137.30, 2.0, -1.0, 0.0),
          ('water', -237.19, 2.0, 0.0, 0.0)),
        ph(ph) AS (VALUES (5.0), (6.0), (7.0), (8.0), (9.0)),
        ionic(ionic) AS (VALUES (0.0), (0.25)),
        c AS (SELECT 8.314462618e-3 * 298.15 AS rt,
          8.314462618e-3 * 298.15 * ln(10) AS rtln10,
          9.20483e-3 * 298.15 - 1.284668e-5 * 298.15 * 298.15
            + 4.95199e-8 * 298.15 * 298.15 * 298.15 AS alpha),
        g AS (SELECT compound, ph, ionic,
            dgf0 + nh * rtln10 * ph + nmg * (rtln10 * 14.0 - (-455.3))
              - alpha * sqrt(ionic) / (1 + 1.6 * sqrt(ionic))
                * (z * z - nh - 4 * nmg) AS gf
          FROM sp, ph, ionic, c),
        gm AS (SELECT compound, ph, ionic, gf,
            min(gf) OVER (PARTITION BY compound, ph, ionic) AS mn
          FROM g),
        iso AS (SELECT compound, ph, ionic,
            min(mn) - (SELECT rt FROM c)
              * ln(sum(exp((mn - gf) / (SELECT rt FROM c)))) AS gfp
          FROM gm GROUP BY compound, ph, ionic)
        SELECT ph, ionic, round(
            max(CASE WHEN compound = 'adp' THEN gfp END)
            + max(CASE WHEN compound = 'pi' THEN gfp END)
            - max(CASE WHEN compound = 'atp' THEN gfp END)
            - max(CASE WHEN compound = 'water' THEN gfp END), 6) AS dgr_prime
        FROM iso GROUP BY ph, ionic"""),
      "Pseudoisomer-averaged dG' of ATP hydrolysis across a pH x I " +
        "grid (Alberty -36.04 kJ/mol at pH 7, I = 0.25): isomer-group " +
        "log-sum-exp plus the Legendre transform, dual-computed."),

    GraftQuery(
      "q_pickaxe_dbstats", Seq("A8", "P5", "P12", "P13"),
      (s, _) => {
        // db_plots.py make_box_plots data prep over the 31/49 fixture
        // network: exact five-number summaries of Mass / logP /
        // NP_likeness per compound Type, coreactants excluded. One
        // unpivot + one aggregate — no raw compound rows leave the
        // executors (the script's Mongo-cursor→pandas path does).
        val st = engine(s).run(Seq(fadh), generations = 2)
        DbStats.propertyBox(st.compounds)
          .orderBy("Type", "prop")
      },
      // pinned: the 28 predicted isomer products cluster at the
      // phosphorylated masses; the lone starting compound is FADH
      Some("""
        SELECT * FROM (VALUES
          ('Predicted', 'Mass', 28::BIGINT,
            867.1391, 927.1139, 947.1054, 947.1054, 947.1054),
          ('Predicted', 'NP_likeness', 28::BIGINT,
            -0.9077, -0.8650, -0.8331, -0.7752, -0.6370),
          ('Predicted', 'logP', 28::BIGINT,
            -11.0600, -11.0600, -11.0600, -10.6650, -9.4800),
          ('Starting Compound', 'Mass', 1::BIGINT,
            787.1728, 787.1728, 787.1728, 787.1728, 787.1728),
          ('Starting Compound', 'NP_likeness', 1::BIGINT,
            -0.8088, -0.8088, -0.8088, -0.8088, -0.8088),
          ('Starting Compound', 'logP', 1::BIGINT,
            -7.9000, -7.9000, -7.9000, -7.9000, -7.9000))
          AS t("Type", prop, n, "min", q1, median, q3, "max")"""),
      "Property-distribution statistics (db_plots.py box/violin data): " +
        "per-Type exact quartiles of Mass, logP and NP-likeness over " +
        "the expansion network."),

    GraftQuery(
      "q_pickaxe_skeleton", Seq("P10", "D1", "A8"),
      (s, _) => {
        // InChIKey-block-1 identity audit (get_compound_hash,
        // utils.py:115-164): the current reference ids compounds by
        // sha1 of the InChIKey FIRST BLOCK, which merges mobile-H
        // tautomers and protonation states our SMILES-hash ids keep
        // apart. Group the 2-gen FADH network by the InChI-skeleton
        // equivalence key (chem.InChISkeleton) and report, per Type,
        // compounds vs distinct skeletons and how many compounds
        // carry a mobile-H group — n == n_skeletons is the pinned
        // evidence that the two id schemes agree on this network
        // (nothing would merge), so hash-pinned oracles transfer.
        // Chemistry UDF = the survey's sanctioned exception.
        val st = engine(s).run(Seq(fadh), generations = 2)
        val keyUdf = udf { smi: String =>
          graft.chem.InChISkeleton.keyOrSmiles(smi)
        }
        val keyed = st.compounds
          .withColumn("k", keyUdf(col("SMILES")))
          .withColumn("mobile",
            when(col("k").contains("(H"), 1L).otherwise(0L))
          .localCheckpoint(eager = false)
        def roll(df: org.apache.spark.sql.DataFrame) = df.agg(
          count(lit(1)).as("n"),
          countDistinct("k").as("n_skeletons"),
          sum("mobile").as("n_mobile"))
        // the "(all)" row is the one that actually pins "nothing
        // would merge": per-Type counts are blind to a Predicted
        // compound sharing a skeleton with a coreactant or start
        keyed.groupBy("Type").agg(
            count(lit(1)).as("n"),
            countDistinct("k").as("n_skeletons"),
            sum("mobile").as("n_mobile"))
          .unionByName(roll(keyed).withColumn("Type", lit("(all)"))
            .select("Type", "n", "n_skeletons", "n_mobile"))
          .orderBy("Type")
      },
      Some("""SELECT * FROM (VALUES
          ('(all)', 31::BIGINT, 31::BIGINT, 31::BIGINT),
          ('Coreactant', 2::BIGINT, 2::BIGINT, 2::BIGINT),
          ('Predicted', 28::BIGINT, 28::BIGINT, 28::BIGINT),
          ('Starting Compound', 1::BIGINT, 1::BIGINT, 1::BIGINT))
          AS t("Type", n, n_skeletons, n_mobile)"""),
      "InChIKey-block-1 identity audit: skeleton-key classes equal " +
        "compound counts on the expansion network (the reference's " +
        "InChI ids and our SMILES-hash ids agree here), with mobile-H " +
        "group prevalence per Type."),
  )
}
