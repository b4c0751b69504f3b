package graft.pickaxe

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.chem.{Chem, Formula, Smiles}
import graft.operators.{CheckpointRows, LocalGate, Par}

/** The network state: the two core tables + generation counter. */
final case class NetworkState(
    compounds: DataFrame,
    reactions: DataFrame,
    generation: Int)

/** A per-generation frontier filter (reference Filter ABC,
  * filters/base_filter.py:17-86): returns the `_id`s whose Expand flag
  * must be cleared before the generation expands.
  */
trait NetworkFilter {
  def name: String
  def blocked(state: NetworkState): DataFrame // single `_id` column
  /** When true (the default — the reference's `_apply_filter_results`
    * runs after EVERY filter, base_filter.py:163-286), blocked compounds
    * are REMOVED from the network with the cascade semantics (a compound
    * survives while a surviving reaction references it; Starting
    * Compounds and Coreactants are never removed — a documented deviation:
    * the reference can delete a generation-0 start that no reaction
    * protects). Override to false for flag-only filtering.
    */
  def removes: Boolean = true

  /** Reaction `_id`s to DELETE outright (the thermodynamics/feasibility
    * filters return reaction sets — thermodynamics.py:159,
    * feasibility.py:102); deletion cascades to orphaned compounds
    * (base_filter.py:216-238). Default: none. Override
    * `deletesReactions` to true alongside this — the engine skips the
    * whole reaction-deletion pass (one Spark action per filter per
    * generation) for filters that never return one.
    */
  def blockedReactions(state: NetworkState): DataFrame =
    state.reactions.select("_id").limit(0)

  /** Static hint: does this filter ever return blocked reactions? */
  def deletesReactions: Boolean = false

  /** Content ids of the filter's target compounds, if it has any —
    * the prune-between-generations whitelist keeps compounds identical
    * to a target even when they are not marked for expansion
    * (pickaxe.py:630-637: `f"T{cpd_id[1:]}" in self.targets`).
    */
  def targetIds: Seq[String] = Nil
}

/** Spark-native Pickaxe: iterative rule-driven network expansion
  * (reference driver loop transform_all, pickaxe.py:610-685).
  *
  * Dataflow per generation (SURVEY.md §2.3):
  *   frontier select (P1) -> kernel over broadcast rules (E2/E3/J1/J2)
  *   -> reaction groupBy-merge with operator set-union (A1/D2)
  *   -> compound regroup-merge dedup, first-generation-wins (D1/E6)
  * with one localCheckpoint per state table per generation for flat
  * lineage.
  *
  * Scale design: the only shuffles are the two regroup merges per
  * generation, both hash-partitioned on content ids; rules and
  * coreactants are broadcast (they are small dimension tables); the
  * chemistry runs inside one UDF (the imperative kernel, the documented
  * exception to expression-only plans).
  */
final class PickaxeEngine(
    spark: SparkSession,
    val rules: Seq[RuleRow],
    val coreactants: Seq[CoreactantRow],
    /** Run the rule kernel on explicit-H molecules (the reference's
      * `explicit_h` flag, default False — pickaxe.py:147). Rules whose
      * SMARTS bind hydrogen atoms (`[#1...]`) need true; implicit mode
      * lets H counts re-derive after rewiring, like RDKit.
      */
    val explicitH: Boolean = false) extends Serializable {

  import spark.implicits._

  private val coreactantMap: Map[String, (String, String)] =
    coreactants.map(c => c.name -> (c.smiles, c._id)).toMap

  import PickaxeEngine.mkCompound

  /** S2: standardize + hash + dedup starting compounds. */
  def loadStarting(smiles: Seq[String]): Seq[CompoundRow] =
    smiles.flatMap(Chem.standardize(_))
      .filter(Chem.isOrganic)
      .distinct
      .map(s => mkCompound(Chem.compoundHash(s, 'C'), s,
        "Starting Compound", 0, expand = true))

  def initialState(startingSmiles: Seq[String]): NetworkState = {
    val start = loadStarting(startingSmiles)
    val core = coreactants.map(c =>
      mkCompound(c._id, c.smiles, "Coreactant", 0, expand = false))
    // dedup on the driver: a dropDuplicates over the local rows would
    // plan an aggregate and a shuffle into every generation-1 job
    val compounds = (start ++ core).distinctBy(_._id).toDF()
    // every later generation reads checkpointed tables; a generation-0
    // state over RDD leaves of the same schemas lets generation 1 plan
    // exactly like the generations after it, so they share generated
    // classes instead of compiling their own. Lazy: the first
    // generation's jobs fill it
    NetworkState(compounds.localCheckpoint(eager = false), noReactions, 0)
  }

  /** No reactions yet: an RDD leaf typed as `expandOnce`'s merge writes
    * its reactions.
    */
  private def noReactions: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      PickaxeEngine.mergeReactions(spark.emptyDataset[ReactionRow].toDF())
        .schema)

  /** DataFrame-seed initial state: `starting` carries compound rows in
    * the [[CompoundRow]] schema — already standardized, organic-
    * filtered, and content-hashed (the shape
    * [[PickaxeEngine.loadCompoundFile]] emits). Nothing crosses the
    * driver and no chemistry re-runs: the Seq overload is for
    * template-scale seed lists; a MetaNetX-scale (~1M compound) seed
    * must load gen 0 distributed.
    */
  def initialState(starting: DataFrame): NetworkState = {
    val core = coreactants.map(c =>
      mkCompound(c._id, c.smiles, "Coreactant", 0, expand = false)).toDF()
    NetworkState(
      starting.unionByName(core).dropDuplicates("_id"), noReactions, 0)
  }

  /** Apply the filter chain to the current frontier: clear Expand
    * flags, cascade-delete removed compounds/reactions. This is the
    * per-iteration filter pass of transform_all (pickaxe.py:628-629);
    * `run` also invokes it once more after the last expansion when
    * `filterAfterFinalGen` is set (pickaxe.py:624-626).
    */
  def applyFilters(
      state: NetworkState,
      filters: Seq[NetworkFilter]): NetworkState =
    // filters run in declaration order (pickaxe.py:628-629); a filter
    // with `removes` additionally cascade-deletes its blocked set
    filters.foldLeft(state) { (st, f) =>
      // materialize the (small) blocked id-set ONCE when it has TWO
      // consumers (Expand-flag join + removal cascade) — without the
      // checkpoint the scoring chain re-runs per consumer. A
      // non-removing filter has a single consumer, so the checkpoint
      // would only add a sequential driver job (guide §7.3: these
      // fixture-scale runs are job-latency-bound, ~40-100 ms each)
      val blockedPlan = f.blocked(st)
        .select(col("_id").as("__blocked_id")).distinct()
      val blocked =
        if (f.removes) blockedPlan.localCheckpoint() else blockedPlan
      val cpds = st.compounds.join(broadcast(blocked),
          st.compounds("_id") === col("__blocked_id"), "left")
        .withColumn("Expand",
          col("Expand") && col("__blocked_id").isNull)
        .drop("__blocked_id")
      val withFlags = st.copy(compounds = cpds)
      val afterCpds =
        if (f.removes)
          Cascade.cascadeDelete(withFlags,
            blocked.select(col("__blocked_id").as("_id")))
        else withFlags
      if (!f.deletesReactions) afterCpds
      else {
        // same one-shot materialization: the thermo/feasibility scoring
        // chain (explode + regroup + per-member parse) feeds both the
        // emptiness gate and deleteReactions. The lazy checkpoint is
        // filled by the gate's count, one job for both
        val badRxns = f.blockedReactions(afterCpds).select("_id").distinct()
          .localCheckpoint(eager = false)
        if (CheckpointRows.run(badRxns, "blocked reactions")(_.count()) == 0)
          afterCpds
        else Cascade.deleteReactions(afterCpds, badRxns)
      }
    }

  /** One generation: filters -> frontier -> kernel -> merge (E1/E2/E6).
    * The frontier is every compound of the state's generation with
    * Expand set, coreactants and targets excepted; afterwards Expand is
    * cleared on that generation and the new compounds enter the next
    * one with Expand set.
    */
  def expandOnce(
      state: NetworkState,
      filters: Seq[NetworkFilter] = Nil,
      pruneBetweenGens: Boolean = false): NetworkState = {
    val g = state.generation
    val filteredState0 = applyFilters(state, filters)
    // prune_between_gens (pickaxe.py:631-645): after the filter pass
    // and before expanding, restrict the network to everything needed
    // to produce the whitelist — expanding compounds, coreactants, and
    // compounds identical to a filter target
    val filteredState =
      if (pruneBetweenGens && filters.nonEmpty) {
        val tgt = filters.flatMap(_.targetIds).distinct
        val white = filteredState0.compounds
          .where(col("Expand") || col("Type") === "Coreactant" ||
            (if (tgt.isEmpty) lit(false) else col("_id").isin(tgt: _*)))
          .select("_id")
        pruneNetwork(filteredState0, white)
      } else filteredState0
    val afterFilters = filteredState.compounds
    // the generation test is a UDF, not `col("Generation") === g`: Spark
    // writes an int literal into the generated Java source, so every
    // generation would compile its own copy of each stage; the UDF keeps
    // `g` in the plan's references and the code identical across them
    val ofGen = udf((gen: Int) => gen == g)
    // P1 frontier predicate (pickaxe.py:658-664)
    val frontier = afterFilters
      .where(ofGen(col("Generation")) && col("Expand") &&
        !col("Type").isin("Coreactant", "Target Compound"))

    val rulesB = spark.sparkContext.broadcast(rules)
    val coreB = spark.sparkContext.broadcast(coreactantMap)
    val eh = explicitH
    // the kernel as a UDF under explode: the frontier filter, the kernel
    // call and the row output run in one generated stage, where a typed
    // flatMap adds an object round trip and a serializer stage of its own
    val kernel = udf { (id: String, smi: String) =>
      RuleKernel.applyAll(id, smi, rulesB.value, coreB.value, explicitH = eh)
    }
    // LAZY localCheckpoint, not persist: a persisted kernel output opts
    // every shuffle above it out of AQE re-partitioning, so the
    // reaction-merge groupBy materialized 32-wide for a handful of rows
    // (profiled 1.2-1.6 s task time on every pickaxe query's first
    // generation). Lazy does not defer everything: with AQE on, the
    // query stages below the checkpoint still run when it is created;
    // only the final stage (the kernel call here) waits for its
    // first consumer, which saves at most one job over the eager form
    // (measured: eager added one sequential job per generation,
    // q_pickaxe_skeleton +0.4 s). The two concurrent state checkpoints
    // below both read it; the kernel computes once only because local
    // mode has a single BlockManager whose partition locks serialize
    // the two jobs' first reads. On a multi-executor cluster the two
    // jobs can compute and cache the same partition on different
    // executors, running the chemistry twice.
    val predicted = frontier
      .select(explode(kernel(col("_id"), col("SMILES"))).as("p"))
      .select("p.*")
      .localCheckpoint(eager = false)

    // D2/A1: reaction merge with operator set-union — this generation's
    // predictions and the existing reactions regroup in ONE aggregation,
    // one shuffle instead of a regroup followed by a full-outer join. An
    // existing reaction keeps its ID; the SMILES and stoichiometry are
    // functions of the content-hash id, so any row's copy is the
    // reaction's
    val newRxns = predicted.select(col("rxnId").as("_id"), lit("").as("ID"),
      col("reactants").as("Reactants"), col("products").as("Products"),
      array(col("operator")).as("Operators"),
      col("smilesRxn").as("SMILES_rxn"))
    val mergedRxns = PickaxeEngine.mergeReactions(filteredState.reactions
      .select(newRxns.columns.map(col).toSeq: _*)
      .union(newRxns))

    // D1/E6: compound dedup, first-generation-wins: this generation's
    // products and the known compounds regroup on (id, SMILES) in one
    // shuffle, and only ids no known compound has stay. An id is the
    // hash of its SMILES, so the pair groups as the id would, and the
    // boolean aggregate keeps the HashAggregate codegen'd — no broadcast
    // of the known ids, no SortAggregate over a string buffer
    val newCpds = predicted
      .select(explode(col("productSmiles")).as("p"))
      .select(col("p._1").as("_id"), col("p._2").as("SMILES"),
        lit(false).as("known"))
      .union(afterFilters.select(col("_id"), col("SMILES"),
        lit(true).as("known")))
      .groupBy("_id", "SMILES")
      .agg(max("known").as("known"))
      .where(!col("known"))
      .select("_id", "SMILES")
      .as[(String, String)]
      .map { t => PickaxeEngine.mkCompound(t._1, t._2, "Predicted", g + 1,
        expand = true) }
      .toDF()

    val mergedCpds = afterFilters
      // expanded frontier is done (Expand=false), like the reference's
      // post-gen flag clear
      .withColumn("Expand",
        when(ofGen(col("Generation")), lit(false)).otherwise(col("Expand")))
      .unionByName(newCpds)

    // localCheckpoint alone (NO Dataset-level persist): it is eager and
    // self-caching, while a .persist() wrapper pinned every shuffle
    // under it to the static spark.sql.shuffle.partitions width (cached
    // plans opt out of AQE re-partitioning), materializing 32-wide
    // states of a handful of rows — and leaked one InMemoryRelation per
    // generation. Without it AQE coalesces the state width to the DATA
    // (1 partition at fixture scale, advisory-sized at MINE scale) —
    // the scale-adaptive partitioning the optimization brief asks for.
    // The two materializations are independent jobs; run them from two
    // driver threads so their (driver-latency-dominated) schedules
    // overlap instead of queueing (guide §2.6 "overlap independent
    // jobs") — the shared `predicted` checkpoint above already holds
    // the kernel output, so both jobs read cached blocks.
    val (outC, outR) = Par.concurrently(
      mergedCpds.localCheckpoint(),
      mergedRxns.localCheckpoint())
    NetworkState(outC, outR, g + 1)
  }

  /** transform_all (pickaxe.py:610-685). `filterAfterFinalGen` runs the
    * filter chain once more on the final generation (pickaxe.py:624-626
    * — the ctor's `filter_after_final_gen`, default True there; kept
    * false here for continuity with the count pins, which the
    * reference's own filter tests set explicitly). `pruneBetweenGens`
    * restricts the network to the expansion whitelist between
    * generations (pickaxe.py:631-645).
    */
  def run(
      startingSmiles: Seq[String],
      generations: Int,
      filters: Seq[NetworkFilter] = Nil,
      filterAfterFinalGen: Boolean = false,
      pruneBetweenGens: Boolean = false): NetworkState =
    runFrom(initialState(startingSmiles), generations, filters,
      filterAfterFinalGen, pruneBetweenGens)

  /** transform_all from a prebuilt initial state — the entry point for
    * DataFrame seeds (`runFrom(initialState(seedDf), ...)`), so a
    * large seed set never collects to the driver.
    */
  def runFrom(
      initial: NetworkState,
      generations: Int,
      filters: Seq[NetworkFilter] = Nil,
      filterAfterFinalGen: Boolean = false,
      pruneBetweenGens: Boolean = false): NetworkState = {
    val expanded =
      (0 until generations).foldLeft(initial) {
        (st, _) => expandOnce(st, filters, pruneBetweenGens)
      }
    if (filterAfterFinalGen) applyFilters(expanded, filters) else expanded
  }

  /** A13: derived adjacency (Reactant_in / Product_of arrays). */
  def adjacency(state: NetworkState): DataFrame = {
    val rIn = state.reactions
      .select(col("_id").as("rxn"), explode(col("Reactants")).as("m"))
      .groupBy(col("m.c_id").as("_id"))
      .agg(array_sort(collect_set("rxn")).as("Reactant_in"))
    val pOf = state.reactions
      .select(col("_id").as("rxn"), explode(col("Products")).as("m"))
      .groupBy(col("m.c_id").as("_id"))
      .agg(array_sort(collect_set("rxn")).as("Product_of"))
    state.compounds.select("_id")
      .join(rIn, Seq("_id"), "left")
      .join(pOf, Seq("_id"), "left")
      .select(col("_id"),
        coalesce(col("Reactant_in"), array()).as("Reactant_in"),
        coalesce(col("Product_of"), array()).as("Product_of"))
  }

  /** D4/D5: prune to targets — reverse BFS over the bipartite graph
    * (find_minimal_set, pickaxe.py:995-1044), as iterative semi-joins.
    *
    * SIZE-GATED HYBRID: the multi-round distributed BFS pays dozens of
    * Spark jobs of fixed overhead; on small networks (the common
    * interactive case — a few generations of expansion) that overhead
    * dominates. Up to `PickaxeEngine.LocalRxnLimit` reactions the
    * membership pairs are collected once and the identical reverse BFS
    * runs driver-side; past the gate the iterative semi-join path runs
    * unchanged, so cluster-scale networks never collect.
    * `spark.graft.localPaths=false` ([[graft.operators.LocalGate]])
    * forces the semi-join path at any size.
    */
  def pruneToTargets(
      state: NetworkState,
      targetSmiles: Seq[String]): NetworkState = {
    val targetIds = targetSmiles.flatMap(Chem.standardize(_))
      .map(s => Chem.compoundHash(s, 'C'))
    if (targetIds.isEmpty)
      return NetworkState(state.compounds.limit(0), state.reactions.limit(0),
        state.generation)
    pruneNetwork(state,
      state.compounds.where(col("_id").isin(targetIds: _*)).select("_id"),
      localSeedIds = Some(targetIds))
  }

  /** D4/D5 prune with a DISTRIBUTED target set: `targetIds` is a
    * 1-column `_id` DataFrame (the shape
    * [[PickaxeRun.loadTargetIds]] emits). Identical keep-set semantics
    * to the Seq overload — absent target ids contribute nothing to the
    * reverse BFS on either path — but the target list never crosses
    * the driver above `pruneNetwork`'s local gate, which only ever
    * collects ids PRESENT in the network.
    */
  def pruneToTargetsDf(
      state: NetworkState,
      targetIds: DataFrame): NetworkState = {
    if (targetIds.isEmpty)
      return NetworkState(state.compounds.limit(0),
        state.reactions.limit(0), state.generation)
    val present = state.compounds
      .join(targetIds.select("_id").distinct(), Seq("_id"), "left_semi")
      .select("_id")
    pruneNetwork(state, present)
  }

  /** General whitelist prune (prune_network / find_minimal_set,
    * pickaxe.py:995-1044): keep everything on a production path to a
    * whitelist member, plus coreactants. `pruneToTargets` and the
    * between-generations prune (pickaxe.py:631-645) both land here.
    * Same size-gated hybrid as documented above; `localSeedIds` lets a
    * caller that already holds the seed ids skip the collect on the
    * local path.
    */
  def pruneNetwork(
      state: NetworkState,
      whitelist: DataFrame,
      localSeedIds: Option[Seq[String]] = None): NetworkState = {
    // the gate and the local path's input in one bounded collect: at
    // most limit + 1 reactions cross to the driver, and a network
    // with more than the limit takes the distributed path below
    if (LocalGate.enabled(spark)) {
      val members = state.reactions
        .select(col("_id").as("rxn"), col("Reactants"), col("Products"))
        .as[(String, Seq[Stoich], Seq[Stoich])]
        .limit(PickaxeEngine.LocalRxnLimit.toInt + 1).collect()
      if (members.length <= PickaxeEngine.LocalRxnLimit) {
        val seedIds = localSeedIds.getOrElse(
          whitelist.select("_id").as[String].collect().toSeq)
        return pruneToTargetsLocal(state, members, seedIds)
      }
    }
    val seeds = whitelist
      .select(col("_id").as("c_id")).distinct()
    val prodM = state.reactions
      .select(col("_id").as("rxn"), explode(col("Products")).as("m"))
      .select(col("rxn"), col("m.c_id").as("c_id")).localCheckpoint()
    val reacM = state.reactions
      .select(col("_id").as("rxn"), explode(col("Reactants")).as("m"))
      .select(col("rxn"), col("m.c_id").as("c_id")).localCheckpoint()

    // loop on the compound side only (producing reactions -> their
    // reactant compounds per round); the kept-reaction set equals
    // "reactions producing a kept compound", derived once at the end
    var keepC = seeds.localCheckpoint()
    var frontier = keepC
    var done = false
    while (!done) {
      val reached = prodM.join(frontier, Seq("c_id"), "left_semi")
        .select("rxn").distinct()
      val newC = reacM.join(reached, Seq("rxn"), "left_semi")
        .where(col("c_id").startsWith("C"))
        .select("c_id").distinct()
        .join(keepC, Seq("c_id"), "left_anti").localCheckpoint()
      if (newC.isEmpty) done = true
      else {
        keepC = keepC.union(newC).localCheckpoint() // disjoint by anti-join
        frontier = newC
      }
    }
    val keepR = prodM.join(keepC, Seq("c_id"), "left_semi")
      .select("rxn").distinct().localCheckpoint()
    // keep every C member (both sides) of kept reactions, plus seeds
    val memberC = prodM.union(reacM)
      .join(keepR, Seq("rxn"), "left_semi")
      .where(col("c_id").startsWith("C"))
      .select("c_id").union(keepC.select("c_id")).distinct()
    val prunedC = state.compounds.join(
      memberC.withColumnRenamed("c_id", "_id"), Seq("_id"), "left_semi")
    val keepAll = state.compounds
      .where(col("Type") === "Coreactant").select("_id")
      .union(prunedC.select("_id"))
    val outC = state.compounds.join(keepAll.distinct(), Seq("_id"), "left_semi")
    val outR = state.reactions.join(keepR.withColumnRenamed("rxn", "_id"),
      Seq("_id"), "left_semi")
    NetworkState(outC, outR, state.generation)
  }

  /** Driver-side twin of the distributed reverse BFS above — identical
    * keep-set semantics over the collected (rxn, members) rows.
    */
  private def pruneToTargetsLocal(
      state: NetworkState,
      members: Array[(String, Seq[Stoich], Seq[Stoich])],
      targetIds: Seq[String]): NetworkState = {
    import scala.collection.mutable
    // producedBy: c_id -> reactions with it as a product
    val producedBy = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
    val reactantsOf = mutable.HashMap.empty[String, Seq[String]]
    val prodIds = mutable.HashMap.empty[String, Seq[String]]
    members.foreach { case (rxn, reac, prod) =>
      prod.foreach(m =>
        producedBy.getOrElseUpdate(m.c_id, mutable.ArrayBuffer.empty) += rxn)
      reactantsOf(rxn) = reac.map(_.c_id).filter(_.startsWith("C"))
      prodIds(rxn) = prod.map(_.c_id)
    }
    val keepC = mutable.HashSet[String](targetIds: _*)
    val queue = mutable.Queue[String](targetIds: _*)
    val keepR = mutable.HashSet.empty[String]
    while (queue.nonEmpty) {
      val c = queue.dequeue()
      producedBy.getOrElse(c, Nil).foreach { rxn =>
        if (keepR.add(rxn))
          reactantsOf(rxn).foreach { r =>
            if (keepC.add(r)) queue.enqueue(r)
          }
      }
    }
    // keep every C member (both sides) of kept reactions, plus seeds
    val memberC = keepC ++ keepR.iterator.flatMap(r =>
      (reactantsOf(r) ++ prodIds(r)).filter(_.startsWith("C")))
    // the keep sets are driver-side already: ship them as broadcast
    // variables and filter in place, instead of joining against a
    // broadcast relation built from the same ids (one job and one hash
    // join stage per table)
    def isIn(ids: collection.Set[String]) = {
      val b = spark.sparkContext.broadcast(ids.toSet)
      udf((id: String) => b.value.contains(id))
    }
    val outC = state.compounds.where(
      col("Type") === "Coreactant" || isIn(memberC)(col("_id")))
    val outR = state.reactions.where(isIn(keepR)(col("_id")))
    NetworkState(outC, outR, state.generation)
  }

  /** W1: dense export ids (assign_ids, pickaxe.py:1046-1102) — via the
    * distributed two-pass rank (operators.DenseIds), not a global
    * `row_number() over (order by ...)` window: the window form moves
    * every row through one task, which is fine for a golden-file
    * export and a straggler on a 100 TB network table. Result is
    * bit-identical (the (Generation, _id) / (_id) orders are total).
    */
  def assignIds(state: NetworkState): NetworkState = {
    import graft.operators.DenseIds
    // both tables rank on one string key in their first column, so the
    // two ranks plan the same range partitioning, sort and orderings
    // and share those generated classes. The compound key orders as
    // (Generation, _id): a generation is a non-negative int, so ten
    // zero-padded digits order like the number
    def ided(df: DataFrame, key: Column, fmt: String) =
      DenseIds.withDenseRank(
          df.select(key.as("__key") +: df.columns.toSeq.map(col): _*),
          Seq(col("__key")))
        .withColumn("ID", format_string(fmt, col("__rank")))
        .drop("__rank", "__key")
    // each rank runs its own short chain of driver jobs (range
    // sampling, shuffle, partition counts); the two tables are
    // independent, so overlap them like expandOnce's state pair
    val (cpds, rxns) = Par.concurrently(
      ided(state.compounds,
        concat(format_string("%010d", col("Generation")), col("_id")),
        "pkc%07d"),
      ided(state.reactions, col("_id"), "pkr%07d"))
    NetworkState(cpds, rxns, state.generation)
  }

  /** TSV export (pickaxe.py:1104-1163): deterministic order by ID. */
  def writeTsv(state: NetworkState, outDir: String): Unit = {
    val st = assignIds(state)
    st.compounds
      .select("ID", "Type", "Generation", "Formula", "SMILES")
      .orderBy("ID")
      .coalesce(1)
      .write.mode("overwrite").option("sep", "\t").option("header", "true")
      .csv(s"$outDir/compounds")
    st.reactions
      .withColumn("Rxn_hash", col("_id"))
      .select("ID", "Rxn_hash", "SMILES_rxn")
      .orderBy("ID")
      .coalesce(1)
      .write.mode("overwrite").option("sep", "\t").option("header", "true")
      .csv(s"$outDir/reactions")
  }
}

object PickaxeEngine {

  /** Reactions up to which the prune (`pruneNetwork`) and the filter
    * cascade (`Cascade`) run their fixpoints driver-side; see
    * `pruneToTargets`.
    */
  val LocalRxnLimit = 200_000L

  /** Reaction regroup of `expandOnce`: one row per `_id` with the
    * highest ID, the set-union of the operators, and any row's SMILES
    * and stoichiometry (functions of the content-hash id).
    */
  private def mergeReactions(rows: DataFrame): DataFrame =
    rows.groupBy("_id")
      .agg(
        max("ID").as("ID"),
        first("Reactants").as("Reactants"),
        first("Products").as("Products"),
        array_sort(array_distinct(flatten(collect_list("Operators"))))
          .as("Operators"),
        first("SMILES_rxn").as("SMILES_rxn"))

  /** S2: compound-file ingest (load_compound_set, pickaxe.py:445-495):
    * CSV/TSV/JSON dispatched on extension (file_to_dict_list,
    * utils.py:71-94 — `.tsv` tab, `.csv` comma, `.json` a JSON array of
    * records, anything else is an error), structure column detected by
    * name (`smiles` / `inchi` / `structure`, case-insensitive —
    * pickaxe.py:463-470), standardize -> organic filter -> content-hash
    * dedup. InChI values are reconstructed by `graft.chem.InChI` (bond
    * orders via valence-deficiency matching; unsupported layers are
    * skipped).
    */
  def loadCompoundFile(
      spark: SparkSession,
      path: String): DataFrame = {
    import spark.implicits._
    val raw =
      if (path.contains(".tsv"))
        spark.read.option("header", "true").option("sep", "\t").csv(path)
      else if (path.contains(".csv"))
        spark.read.option("header", "true").csv(path)
      else if (path.contains(".json"))
        // the reference json.loads a whole array of records; multiLine
        // reads exactly that shape (and still accepts JSON-lines files)
        spark.read.option("multiLine", "true").json(path)
      else sys.error("Unrecognized input file type")
    val structureField = raw.columns
      .find(c => Set("smiles", "inchi", "structure")(c.toLowerCase))
      .getOrElse(sys.error("Structure field not found in input."))
    raw.select(col(structureField).as("structure"))
      .where(col("structure").isNotNull)
      .as[String]
      .flatMap { s =>
        val smiles =
          if (s.startsWith("InChI=")) graft.chem.InChI.toCanonicalSmiles(s)
          else Some(s)
        smiles.flatMap(graft.chem.Chem.standardize(_))
      }
      .filter((s: String) => graft.chem.Chem.isOrganic(s))
      .distinct()
      .map(s => mkCompound(graft.chem.Chem.compoundHash(s, 'C'), s,
        "Starting Compound", 0, expand = true))
      .toDF()
  }

  /** Compound row with kernel-computed properties (static: safe to use
    * inside task closures without capturing the engine).
    */
  def mkCompound(
      id: String, smiles: String, cType: String, gen: Int,
      expand: Boolean): CompoundRow = {
    val m = Smiles.parse(smiles)
    CompoundRow(id, "", smiles, cType, gen,
      Formula.hillFormula(m), m.formalCharge, Formula.exactMass(m), expand)
  }

  /** S4: coreactant TSV (`#`-comments; columns #ID, Name, SMILES). */
  def parseCoreactants(lines: Seq[String]): Seq[CoreactantRow] =
    lines.filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .flatMap { l =>
        val p = l.split("\t")
        if (p.length < 2) None
        else {
          val name = p(0).trim
          val smi = p.last.trim
          Chem.standardize(smi, allowFragments = true).map { canon =>
            CoreactantRow(name, canon, Chem.compoundHash(canon, 'X'))
          }
        }
      }

  /** S5: rule TSV (header Name/Reactants/SMARTS/Products; `#` comments;
    * `;`-separated role lists; referential check vs coreactants).
    */
  def parseRules(
      lines: Seq[String],
      coreactants: Seq[CoreactantRow]): Seq[RuleRow] = {
    val names = coreactants.map(_.name).toSet
    val rows = lines
      .filterNot(l => l.startsWith("Name\t") || l.startsWith("#") ||
        l.trim.isEmpty)
    rows.flatMap { l =>
      val p = l.split("\t")
      if (p.length < 4) None
      else {
        val roles = p(1).split(";").map(_.trim).toSeq
        val prodRoles = p(3).split(";").map(_.trim).toSeq
        require(roles.forall(r => r == "Any" || names.contains(r)),
          s"rule ${p(0)}: unknown coreactant in $roles")
        Some(RuleRow(p(0).trim, roles, p(2).trim, prodRoles))
      }
    }
  }
}
