package graft.pickaxe

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.chem.{Chem, Formula, Smiles}
import graft.operators.{CheckpointRows, LocalGate, Par}

/** The network state: the two core tables + generation counter. */
final case class NetworkState(
    compounds: DataFrame,
    reactions: DataFrame,
    generation: Int)

/** A per-generation filter (reference Filter ABC,
  * filters/base_filter.py:17-86). Every filter's result goes through
  * one step, `_apply_filter_results` (base_filter.py:163-286): a
  * [[CompoundFilter]]'s blocked compounds lose their Expand flag and are
  * removed with the cascade, a [[ReactionFilter]]'s reactions are
  * deleted with the orphan cascade ([[Cascade]]).
  */
sealed trait NetworkFilter {
  def name: String

  /** Content ids of the filter's target compounds, if it has any —
    * the prune-between-generations whitelist keeps compounds identical
    * to a target even when they are not marked for expansion
    * (pickaxe.py:630-637: `f"T{cpd_id[1:]}" in self.targets`).
    */
  def targetIds: Seq[String] = Nil
}

/** Blocks compounds: the property, similarity and metabolomics filters.
  * The blocked compounds are removed with the cascade semantics (a
  * compound survives while a surviving reaction references it; Starting
  * Compounds and Coreactants are never removed — a documented deviation:
  * the reference can delete a generation-0 start that no reaction
  * protects), and a blocked compound that survives is not expanded.
  */
trait CompoundFilter extends NetworkFilter {
  def blocked(state: NetworkState): DataFrame // single `_id` column
}

/** Blocks reactions: the thermodynamics and feasibility filters
  * (thermodynamics.py:159, feasibility.py:102). The reactions are
  * deleted, and the deletion cascades to orphaned compounds
  * (base_filter.py:216-238).
  */
trait ReactionFilter extends NetworkFilter {
  def blockedReactions(state: NetworkState): DataFrame // single `_id` column
}

/** Spark-native Pickaxe: iterative rule-driven network expansion
  * (reference driver loop transform_all, pickaxe.py:610-685).
  *
  * Dataflow per generation (SURVEY.md §2.3):
  *   frontier select (P1) -> kernel over broadcast rules (E2/E3/J1/J2)
  *   -> reaction reduce-merge with operator set-union (A1/D2)
  *   -> compound reduce-merge dedup, first-generation-wins (D1/E6)
  * with one local checkpoint per state table per generation for flat
  * lineage.
  *
  * Scale design: the only shuffles are the two merges per generation,
  * both hash-partitioned on content ids; rules and coreactants are
  * broadcast (they are small dimension tables). A generation runs on the
  * state tables' rows (RDDs of Catalyst rows, [[CheckpointRows]]), not
  * on a query plan: it compiles no generated class, and each merge is a
  * single job. The state tables are DataFrames over those rows for
  * every other step (filters, prune, ids, export).
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
    val compounds = (start ++ core).distinctBy(_._id)
      .map(PickaxeEngine.compoundRow)
    // RDD leaves of the schemas `expandOnce` writes, like every later
    // generation's tables, so every generation's consumers plan alike
    // and share generated classes; one slice per core at most, like a
    // local relation's scan
    val slices = math.max(1,
      math.min(compounds.size, spark.sparkContext.defaultParallelism))
    NetworkState(CheckpointRows.frame(spark,
      spark.sparkContext.parallelize(compounds, slices),
      PickaxeEngine.compoundSchema, compounds.size.toLong), noReactions, 0)
  }

  /** No reactions yet: an RDD leaf of the reaction table's schema. */
  private def noReactions: DataFrame =
    CheckpointRows.frame(spark, spark.sparkContext.emptyRDD[InternalRow],
      PickaxeEngine.reactionSchema, 0L)

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
    // filters run in declaration order (pickaxe.py:628-629)
    filters.foldLeft(state) {
      case (st, f: CompoundFilter) => Cascade.cascadeDelete(st, f.blocked(st))
      case (st, f: ReactionFilter) =>
        Cascade.deleteReactions(st, f.blockedReactions(st))
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
    val g = state.generation
    val sc = spark.sparkContext
    val rulesB = sc.broadcast(rules)
    val coreB = sc.broadcast(coreactantMap)
    val eh = explicitH
    import PickaxeEngine.{Cpd, compoundRows, reactionRows}
    // the generation runs on the tables' rows in Catalyst's binary form:
    // the frontier test, the kernel and both merges compile no generated
    // class, and each merge is one job (a DataFrame regroup is two under
    // adaptive execution: its shuffle stage, then the rest)
    val cpds = compoundRows(filteredState.compounds)
    // P1 frontier predicate (pickaxe.py:658-664) -> kernel (E2/E3/J1/J2).
    // The predictions have two consumers, the two merges below: a local
    // checkpoint computes them once. It is lazy: the first merge job
    // fills it. The two merge jobs run concurrently; the kernel computes
    // once only because local mode has a single BlockManager whose
    // partition locks serialize the two jobs' first reads. On a
    // multi-executor cluster the two jobs can compute and cache the same
    // partition on different executors, running the chemistry twice.
    val predicted = cpds.flatMap { r =>
      val frontier = r.getInt(Cpd.Generation) == g &&
        !r.isNullAt(Cpd.Expand) && r.getBoolean(Cpd.Expand) &&
        !r.isNullAt(Cpd.Type) && {
          val t = r.getUTF8String(Cpd.Type).toString
          t != "Coreactant" && t != "Target Compound"
        }
      if (!frontier) Nil
      else RuleKernel.applyAll(r.getUTF8String(Cpd.Id).toString,
        r.getUTF8String(Cpd.Smiles).toString, rulesB.value, coreB.value,
        explicitH = eh)
    }.localCheckpoint()

    // both merges shuffle into the session's shuffle width; each
    // checkpoint then coalesces its table to its size, as adaptive
    // execution coalesces a DataFrame shuffle
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt

    // D2/A1: reaction merge with operator set-union — this generation's
    // predictions and the existing reactions reduce by id in one
    // shuffle. An existing reaction keeps its ID; the SMILES and
    // stoichiometry are functions of the content-hash id, so any row's
    // copy is the reaction's
    val mergedRxns = reactionRows(filteredState.reactions)
      .map { r => val c = r.copy(); (c.getUTF8String(0), c: InternalRow) }
      .union(predicted.map(p =>
        (UTF8String.fromString(p.rxnId), PickaxeEngine.reactionRow(p))))
      .reduceByKey(PickaxeEngine.mergeReactionRows _, width)
      .map { case (_, r) => PickaxeEngine.normalizeOperators(r) }

    // D1/E6: compound merge, first-generation-wins: the known compounds
    // and this generation's products reduce on (id, SMILES), and a pair
    // that no known compound holds becomes a new compound. An id is the
    // hash of its SMILES, so the pair groups as the id would
    val mergedCpds = cpds
      .map { r =>
        val c = r.copy()
        ((c.getUTF8String(Cpd.Id), c.getUTF8String(Cpd.Smiles)), c)
      }
      .union(predicted.flatMap(_.productSmiles.map { case (i, smi) =>
        ((UTF8String.fromString(i), UTF8String.fromString(smi)),
          null: InternalRow)
      }))
      .reduceByKey((a, b) => if (a != null) a else b, width)
      .map {
        case ((i, smi), null) =>
          PickaxeEngine.compoundRow(PickaxeEngine.mkCompound(i.toString,
            smi.toString, "Predicted", g + 1, expand = true))
        // the expanded frontier is done (Expand=false), like the
        // reference's post-gen flag clear
        case (_, r) =>
          if (r.getInt(Cpd.Generation) == g) r.setBoolean(Cpd.Expand, false)
          r
      }

    // the two checkpoints are independent jobs; run them from two driver
    // threads so their (driver-latency-dominated) schedules overlap
    // instead of queueing (guide §2.6 "overlap independent jobs")
    val (outC, outR) = Par.concurrently(
      CheckpointRows.checkpoint(spark, mergedCpds,
        PickaxeEngine.compoundSchema, "expandOnce compounds"),
      CheckpointRows.checkpoint(spark, mergedRxns,
        PickaxeEngine.reactionSchema, "expandOnce reactions"))
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
    def rxnsOf(side: String, name: String) =
      Membership.pairs(state.reactions, side, coreactants = true)
        .groupBy(col("c_id").as("_id"))
        .agg(array_sort(collect_set("rxn")).as(name))
    state.compounds.select("_id")
      .join(rxnsOf("Reactants", "Reactant_in"), Seq("_id"), "left")
      .join(rxnsOf("Products", "Product_of"), Seq("_id"), "left")
      .select(col("_id"),
        coalesce(col("Reactant_in"), array()).as("Reactant_in"),
        coalesce(col("Product_of"), array()).as("Product_of"))
  }

  /** D4/D5: prune to targets — reverse BFS over the bipartite graph
    * (find_minimal_set, pickaxe.py:995-1044); see `pruneNetwork`.
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
    *
    * The reverse BFS runs driver-side on the network's [[Membership]]
    * when it fits the local limit: one bounded job reads it, and a
    * multi-round distributed BFS would pay a few Spark jobs of fixed
    * overhead per round. Otherwise, and with
    * `spark.graft.localPaths=false` ([[graft.operators.LocalGate]]), it
    * runs as iterative semi-joins, so cluster-scale networks never
    * collect. `localSeedIds` lets a caller that already holds the seed
    * ids skip their read on the local path.
    */
  def pruneNetwork(
      state: NetworkState,
      whitelist: DataFrame,
      localSeedIds: Option[Seq[String]] = None): NetworkState = {
    val local = for {
      g <- Membership.read(state)
      seeds <- localSeedIds.orElse(Membership.readIds(whitelist).map(_.toSeq))
    } yield {
      val keepC = mutable.HashSet[String](seeds: _*)
      val queue = mutable.Queue[String](seeds: _*)
      val keepR = mutable.HashSet.empty[String]
      while (queue.nonEmpty) g.producedBy(queue.dequeue()).foreach { r =>
        if (keepR.add(r))
          g.reactants(r).foreach(c => if (keepC.add(c)) queue.enqueue(c))
      }
      // every C member (both sides) of the kept reactions, the seeds
      // and the coreactants
      Membership.select(state,
        keepC ++ keepR.iterator.flatMap(g.members) ++ g.coreactants, keepR,
        keep = true)
    }
    local.getOrElse {
      // coreactant products too: a whitelisted coreactant keeps the
      // reactions that produce it, as on the local path
      val prodM = Membership.pairs(state.reactions, "Products",
        coreactants = true).localCheckpoint()
      val reacM = Membership.pairs(state.reactions, "Reactants")
        .localCheckpoint()
      // loop on the compound side only (producing reactions -> their
      // reactant compounds per round); the kept-reaction set equals
      // "reactions producing a kept compound", derived once at the end
      var keepC = whitelist.select(col("_id").as("c_id")).distinct()
        .localCheckpoint()
      var frontier = keepC
      Membership.fixpoint("pruneNetwork") {
        val reached = prodM.join(frontier, Seq("c_id"), "left_semi")
          .select("rxn").distinct()
        frontier = reacM.join(reached, Seq("rxn"), "left_semi")
          .select("c_id").distinct()
          .join(keepC, Seq("c_id"), "left_anti").localCheckpoint()
        val grew = !frontier.isEmpty
        if (grew) keepC = keepC.union(frontier).localCheckpoint()
        grew
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
      val outC = state.compounds.join(keepAll.distinct(), Seq("_id"),
        "left_semi")
      val outR = state.reactions.join(keepR.withColumnRenamed("rxn", "_id"),
        Seq("_id"), "left_semi")
      NetworkState(outC, outR, state.generation)
    }
  }

  /** W1: dense export ids (assign_ids, pickaxe.py:1046-1102):
    * compounds numbered in (Generation, _id) order, reactions in `_id`
    * order. Up to `PickaxeEngine.LocalRxnLimit` rows the keys are
    * collected in one bounded job and numbered driver-side; above it (or
    * with `spark.graft.localPaths=false`, [[graft.operators.LocalGate]])
    * the distributed two-pass rank (operators.DenseIds) numbers them, not
    * a global `row_number() over (order by ...)` window: the window form
    * moves every row through one task, which is fine for a golden-file
    * export and a straggler on a 100 TB network table. Both paths give
    * the same ids (the orders are total).
    */
  def assignIds(state: NetworkState): NetworkState = {
    // both tables rank on one string key: the compound key orders as
    // (Generation, _id) — a generation is a non-negative int, so ten
    // zero-padded digits order like the number
    val cKey = concat(format_string("%010d", col("Generation")), col("_id"))
    val rKey = col("_id")
    val local =
      if (!LocalGate.enabled(spark)) None
      else {
        val cs = state.compounds.schema
        val (cId, cGen) = (cs.fieldIndex("_id"), cs.fieldIndex("Generation"))
        val rId = state.reactions.schema.fieldIndex("_id")
        val keys = CheckpointRows.rows(state.compounds)
          .map(r => (true, r.getUTF8String(cId).toString,
            f"${r.getInt(cGen)}%010d" + r.getUTF8String(cId)))
          .union(CheckpointRows.rows(state.reactions).map { r =>
            val id = r.getUTF8String(rId).toString
            (false, id, id)
          })
        CheckpointRows.within(state.compounds, "assignIds keys")(
          LocalGate.collectUpTo(keys, PickaxeEngine.LocalRxnLimit.toInt))
      }
    local match {
      case Some(keys) =>
        // number each table's keys in byte order, as the rank does
        def ids(compound: Boolean, fmt: String) =
          keys.collect { case (`compound`, id, key) =>
              (UTF8String.fromString(key), id) }
            .sortWith((a, b) => a._1.compareTo(b._1) < 0)
            .zipWithIndex
            .map { case ((_, id), i) => id -> fmt.format(i + 1) }.toMap
        NetworkState(withIds(state.compounds, ids(true, "pkc%07d")),
          withIds(state.reactions, ids(false, "pkr%07d")), state.generation)
      case None =>
        import graft.operators.DenseIds
        // both ranks plan the same range partitioning, sort and
        // orderings on their string key and share those generated classes
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
          ided(state.compounds, cKey, "pkc%07d"),
          ided(state.reactions, rKey, "pkr%07d"))
        NetworkState(cpds, rxns, state.generation)
    }
  }

  /** `df` with its `ID` column set from `ids`, by `_id`. */
  private def withIds(df: DataFrame, ids: Map[String, String]): DataFrame = {
    val b = spark.sparkContext.broadcast(ids)
    val schema = df.schema
    val (id, idCol) = (schema.fieldIndex("_id"), schema.fieldIndex("ID"))
    CheckpointRows.frame(spark, CheckpointRows.rows(df).map { r =>
      val v = r.copy().toSeq(schema).toArray
      v(idCol) = UTF8String.fromString(b.value(r.getUTF8String(id).toString))
      new GenericInternalRow(v): InternalRow
    }, schema, df)
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

  /** Rows up to which the prune and the filter cascades read the
    * network's membership, and their ids, to the driver and run their
    * fixpoints there ([[Membership]]), and `assignIds` numbers its keys
    * there.
    */
  val LocalRxnLimit = 200_000L

  /** The state tables' schemas: compound and reaction rows. */
  val compoundSchema: StructType = Encoders.product[CompoundRow].schema
  val reactionSchema: StructType = Encoders.product[ReactionRow].schema

  /** Column ordinals of a compound row ([[compoundSchema]]). */
  private[pickaxe] object Cpd {
    val Id = 0; val Smiles = 2; val Type = 3; val Generation = 4
    val Expand = 8
  }

  private def rowsIn(df: DataFrame, schema: StructType): RDD[InternalRow] =
    CheckpointRows.rows(
      if (df.columns.sameElements(schema.fieldNames)) df
      else df.select(schema.fieldNames.toSeq.map(col): _*))

  /** A compound table's rows in [[compoundSchema]]'s column order. */
  private[pickaxe] def compoundRows(df: DataFrame): RDD[InternalRow] =
    rowsIn(df, compoundSchema)

  /** A reaction table's rows in [[reactionSchema]]'s column order. */
  private[pickaxe] def reactionRows(df: DataFrame): RDD[InternalRow] =
    rowsIn(df, reactionSchema)

  private def utf(s: String): UTF8String = UTF8String.fromString(s)

  private[pickaxe] def compoundRow(c: CompoundRow): InternalRow =
    new GenericInternalRow(Array[Any](utf(c._id), utf(c.ID), utf(c.SMILES),
      utf(c.Type), c.Generation, utf(c.Formula), c.Charge, c.Mass, c.Expand))

  private def stoichArray(xs: Seq[Stoich]): ArrayData =
    new GenericArrayData(xs.map(s =>
      new GenericInternalRow(Array[Any](s.stoich, utf(s.c_id)))).toArray[Any])

  /** The reaction row of one kernel prediction: no ID yet, one operator. */
  private[pickaxe] def reactionRow(p: RuleKernel.Predicted): InternalRow =
    new GenericInternalRow(Array[Any](utf(p.rxnId), utf(""),
      stoichArray(p.reactants), stoichArray(p.products),
      new GenericArrayData(Array[Any](utf(p.operator))), utf(p.smilesRxn)))

  private def operators(r: InternalRow): Seq[UTF8String] =
    if (r.isNullAt(4)) Nil
    else {
      val a = r.getArray(4)
      (0 until a.numElements()).map(a.getUTF8String)
    }

  private def withOperators(r: InternalRow, ops: Seq[UTF8String],
      id: UTF8String): InternalRow =
    new GenericInternalRow(Array[Any](r.getUTF8String(0), id, r.getArray(2),
      r.getArray(3),
      new GenericArrayData(ops.distinct.sortWith(_.compareTo(_) < 0)
        .toArray[Any]),
      r.getUTF8String(5)))

  private def maxId(a: InternalRow, b: InternalRow): UTF8String =
    if (a.isNullAt(1)) b.getUTF8String(1)
    else if (b.isNullAt(1)) a.getUTF8String(1)
    else Seq(a.getUTF8String(1), b.getUTF8String(1)).max

  /** Two rows of one reaction as one: the highest ID, the set-union of
    * the operators, and either row's SMILES and stoichiometry (functions
    * of the content-hash id).
    */
  private[pickaxe] def mergeReactionRows(a: InternalRow,
      b: InternalRow): InternalRow =
    withOperators(a, operators(a) ++ operators(b), maxId(a, b))

  /** The operators of a merged reaction row sorted and distinct, as a
    * reaction seen once has them too.
    */
  private[pickaxe] def normalizeOperators(r: InternalRow): InternalRow =
    withOperators(r, operators(r), r.getUTF8String(1))

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
