package graft.pickaxe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pathway enumeration over the compound↔reaction bipartite graph
  * (Scripts/pathway_search.py:59-144), level-synchronous in Spark —
  * one iteration = frontier ⋈ reactant-members ⋈ product-members (two
  * equi-joins), bounded by `maxLength`, with an optional per-compound
  * traversal predicate (the reference gates on NP-likeness floor and
  * ΔG cap — pass e.g. a Thermo/NPScore gate column).
  *
  * The reference script's two traversals map onto:
  *   - `findPaths` (default) = `dfs` with `all_paths`
  *     (pathway_search.py:59-81): enumerate EVERY start→target path.
  *     The reference recursion carries the whole path and never prunes
  *     globally; with `allowRevisits = false` (default) we additionally
  *     drop walks that revisit a compound — the reference's recursion
  *     has no cycle check and is bounded only by the depth cap, which
  *     `allowRevisits = true` reproduces exactly.
  *   - `findPathsBfs` = `bfs` (pathway_search.py:85-144): a global
  *     `discovered` set lets each compound be reached once, so the
  *     traversal returns ONE representative (shortest) path, not all.
  */
object PathwaySearch {

  /** The walks' two member tables: (rxn, c_id) reactant pairs and
    * (rxn, p_id) product pairs of the predicted compounds. Each is a
    * lazy localCheckpoint, not a persist: a persisted plan opts out of
    * AQE re-partitioning and pins every round's joins (and therefore
    * the checkpointed frontiers) to the static shuffle width; the first
    * round fills each at the AQE-coalesced width.
    */
  private def members(state: NetworkState): (DataFrame, DataFrame) = (
    Membership.pairs(state.reactions, "Reactants")
      .localCheckpoint(eager = false),
    Membership.pairs(state.reactions, "Products")
      .withColumnRenamed("c_id", "p_id").localCheckpoint(eager = false))

  /** All start→target paths (reference `dfs`, all_paths=True).
    *
    * @param allowRevisits when true, mirror the reference recursion
    *   exactly (no cycle check — walks may revisit compounds, bounded
    *   only by `maxLength`); default false keeps simple paths only
    * @return rows (path: array of reaction ids, n_steps, end_id) for
    *         every path start -> target with <= maxLength steps
    */
  def findPaths(
      state: NetworkState,
      startId: String,
      targetId: String,
      maxLength: Int,
      compoundGate: Option[org.apache.spark.sql.Column] = None,
      allowRevisits: Boolean = false): DataFrame = {
    val spark = state.compounds.sparkSession
    import spark.implicits._
    val (reacM, prodM) = members(state)

    var frontier = Seq((startId, Seq.empty[String], Seq(startId)))
      .toDF("c_id", "path", "seen")
    var results = spark.emptyDataset[(Seq[String], Int, String)]
      .toDF("path", "n_steps", "end_id")
    var depth = 0
    while (depth < maxLength && !frontier.isEmpty) {
      depth += 1
      var stepped = frontier
        .join(reacM, Seq("c_id"))
        .join(prodM, Seq("rxn"))
      if (!allowRevisits)
        stepped = stepped.where(!array_contains(col("seen"), col("p_id")))
      for (gate <- compoundGate) {
        val gated = state.compounds.where(gate).select(col("_id").as("p_id"))
        stepped = stepped.join(gated, Seq("p_id"), "left_semi")
      }
      val next = stepped.select(
        col("p_id").as("c_id"),
        concat(col("path"), array(col("rxn"))).as("path"),
        concat(col("seen"), array(col("p_id"))).as("seen"))
        .localCheckpoint()
      results = results.union(
        next.where(col("c_id") === targetId)
          .select(col("path"), size(col("path")).as("n_steps"),
            col("c_id").as("end_id")))
      frontier = next.where(col("c_id") =!= targetId)
    }
    val out = results.orderBy(size(col("path")), col("path")(0))
    out
  }

  /** Reference `bfs` (pathway_search.py:85-144): a global discovered
    * set means each compound is expanded the first level it is reached,
    * so the target yields at most ONE path — by level order necessarily
    * a shortest one. The reference keeps the FIFO-first path per
    * compound; for determinism under parallelism we keep the
    * lexicographically smallest reaction-id sequence instead (documented
    * deviation — same length, same reachability).
    *
    * @return 0- or 1-row DataFrame (path, n_steps, end_id)
    */
  def findPathsBfs(
      state: NetworkState,
      startId: String,
      targetId: String,
      maxLength: Int,
      compoundGate: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val spark = state.compounds.sparkSession
    import spark.implicits._
    val (reacM, prodM) = members(state)

    var visited = Seq(startId).toDF("c_id").localCheckpoint()
    var frontier = Seq((startId, Seq.empty[String]))
      .toDF("c_id", "path")
    var result = spark.emptyDataset[(Seq[String], Int, String)]
      .toDF("path", "n_steps", "end_id")
    var depth = 0
    var found = false
    while (depth < maxLength && !found && !frontier.isEmpty) {
      depth += 1
      var stepped = frontier
        .join(reacM, Seq("c_id"))
        .join(prodM, Seq("rxn"))
      for (gate <- compoundGate) {
        val gated = state.compounds.where(gate).select(col("_id").as("p_id"))
        stepped = stepped.join(gated, Seq("p_id"), "left_semi")
      }
      // first discovery wins; one representative path per compound
      val next = stepped
        .select(col("p_id").as("c_id"),
          concat(col("path"), array(col("rxn"))).as("path"))
        .join(visited, Seq("c_id"), "left_anti")
        .groupBy("c_id").agg(min(col("path")).as("path"))
        .localCheckpoint()
      visited = visited.union(next.select("c_id")).localCheckpoint()
      val hit = next.where(col("c_id") === targetId)
      if (!hit.isEmpty) {
        found = true
        result = hit.select(col("path"), size(col("path")).as("n_steps"),
          col("c_id").as("end_id"))
      }
      frontier = next.where(col("c_id") =!= targetId)
    }
    result
  }

  /** Multi-seed simple-path ENUMERATION (the reference script loops
    * `dfs` over its source list — pathway_search.py:37-57): every
    * walk of 1..maxLength steps from any seed, cycle-free, gated per
    * compound like [[findPaths]]. Level-synchronous: each round is
    * the frontier ⋈ reactant-members ⋈ product-members equi-join pair
    * with checkpointed lineage; the frontier is never collected, so
    * the loop's join discipline is the one a cluster-scale network
    * runs.
    *
    * @param seeds 1-column `_id` DataFrame of start compounds
    * @return (path: array of reaction ids, n_steps, end_id) — one row
    *         per enumerated path
    */
  def enumerate(
      state: NetworkState,
      seeds: DataFrame,
      maxLength: Int,
      compoundGate: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val spark = state.compounds.sparkSession
    import spark.implicits._
    val (reacM, prodM) = members(state)
    val gated = compoundGate.map { gate =>
      state.compounds.where(gate).select(col("_id").as("p_id"))
        .localCheckpoint() // scored once, consumed every round
    }
    var frontier = seeds.select(col("_id").as("c_id"))
      .withColumn("path", array().cast("array<string>"))
      .withColumn("seen", array(col("c_id")))
      .localCheckpoint()
    var results = spark.emptyDataset[(Seq[String], Int, String)]
      .toDF("path", "n_steps", "end_id")
    var depth = 0
    while (depth < maxLength && !frontier.isEmpty) {
      depth += 1
      var stepped = frontier
        .join(reacM, Seq("c_id"))
        .join(prodM, Seq("rxn"))
        .where(!array_contains(col("seen"), col("p_id")))
      for (g <- gated) stepped = stepped.join(g, Seq("p_id"), "left_semi")
      val next = stepped.select(
        col("p_id").as("c_id"),
        concat(col("path"), array(col("rxn"))).as("path"),
        concat(col("seen"), array(col("p_id"))).as("seen"))
        .localCheckpoint()
      results = results.union(next.select(col("path"),
        size(col("path")).as("n_steps"), col("c_id").as("end_id")))
      frontier = next
    }
    results
  }
}

/** Thermodynamics interface (thermodynamics.py:1-357): the reference
  * computes ΔG via eQuilibrator (an external service + local cache);
  * here the interface is a pluggable `Molecule => Double` with a
  * deterministic bond-energy stub so pathway gating and filter wiring
  * are real while the model is swappable.
  */
object Thermo {

  /** Crude additive bond-enthalpy estimate (kJ/mol-ish, deterministic).
    * Public average bond energies; good enough to ORDER compounds for
    * gating tests, not a real ΔG.
    */
  def bondEnergyEstimate(m: graft.chem.Molecule): Double = {
    val table = Map(
      ("C", "C", 1) -> 346.0, ("C", "C", 2) -> 602.0, ("C", "C", 3) -> 835.0,
      ("C", "H", 1) -> 411.0, ("C", "O", 1) -> 358.0, ("C", "O", 2) -> 799.0,
      ("C", "N", 1) -> 305.0, ("C", "N", 2) -> 615.0, ("C", "N", 3) -> 887.0,
      ("O", "H", 1) -> 459.0, ("N", "H", 1) -> 386.0, ("O", "O", 1) -> 142.0,
      ("O", "P", 1) -> 335.0, ("O", "P", 2) -> 544.0, ("O", "S", 1) -> 265.0,
      ("S", "H", 1) -> 363.0, ("C", "S", 1) -> 272.0)
      .map { case ((a, b, o), v) => // normalize to sorted element pairs
        (if (a <= b) (a, b, o) else (b, a, o)) -> v
      }
    def e(a: String, b: String, o: Int): Double = {
      val k = if (a <= b) (a, b, o) else (b, a, o)
      table.getOrElse(k, 250.0)
    }
    val explicit = m.withExplicitH
    explicit.bonds.map { bd =>
      val (x, y) = (explicit.atoms(bd.a).elem, explicit.atoms(bd.b).elem)
      e(x, y, if (bd.aromatic) 1 else bd.order)
    }.sum
  }

  /** ΔG of a reaction under a given per-molecule energy model:
    * products minus reactants.
    */
  def deltaG(
      reactants: Seq[(Int, graft.chem.Molecule)],
      products: Seq[(Int, graft.chem.Molecule)],
      model: graft.chem.Molecule => Double = bondEnergyEstimate): Double =
    reactants.map(t => t._1 * model(t._2)).sum -
      products.map(t => t._1 * model(t._2)).sum
}
