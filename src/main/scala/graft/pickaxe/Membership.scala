package graft.pickaxe

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

import graft.operators.{CheckpointRows, LocalGate}

/** The compound↔reaction membership of a network: what the prune
  * (prune_network / find_minimal_set, pickaxe.py:995-1044), the filter
  * cascades (base_filter.py:163-286), the native back-trace and the
  * pathway walks traverse, read in one place.
  *
  * Each fixpoint has a driver-local side and a distributed side. The
  * local side runs on a [[Graph]] from [[read]], one bounded job, and
  * writes its result with [[select]], which filters the rows through
  * broadcast id sets without a join. The distributed side joins the
  * (rxn, c_id) pairs of [[pairs]]. A network above
  * `PickaxeEngine.LocalRxnLimit` reactions, or any network with
  * `spark.graft.localPaths=false` ([[graft.operators.LocalGate]]), takes
  * the distributed side; both sides stop by [[fixpoint]].
  */
private[pickaxe] object Membership {

  /** Compound types no cascade removes: the starting compounds and the
    * coreactants (a documented deviation — the reference can delete a
    * generation-0 start that no reaction protects).
    */
  val ProtectedTypes: Seq[String] = Seq("Starting Compound", "Coreactant")

  val isProtected: Column = col("Type").isin(ProtectedTypes: _*)

  /** The (rxn, c_id) pairs of one side ("Reactants" or "Products") of
    * `reactions`: the predicted (`C…`) members, or every member, the
    * coreactants too, with `coreactants`.
    */
  def pairs(reactions: DataFrame, side: String,
      coreactants: Boolean = false): DataFrame = {
    val all = reactions
      .select(col("_id").as("rxn"), explode(col(side)).as("m"))
      .select(col("rxn"), col("m.c_id").as("c_id"))
    if (coreactants) all else all.where(col("c_id").startsWith("C"))
  }

  /** The `_id`s of `ids` on the driver, from one bounded job; `None`
    * when there are more than the local limit, and with the local paths
    * off.
    */
  def readIds(ids: DataFrame): Option[Set[String]] =
    if (!LocalGate.enabled(ids.sparkSession)) None
    else {
      val id = ids.schema.fieldIndex("_id")
      CheckpointRows.run(ids, "member ids")(rows => LocalGate.collectUpTo(
        rows.map(_.getUTF8String(id).toString),
        PickaxeEngine.LocalRxnLimit.toInt)).map(_.toSet)
    }

  /** The network's membership on the driver, from one bounded job over
    * the reactions and the protected compounds; `None` above the local
    * limit, and with the local paths off.
    */
  def read(state: NetworkState): Option[Graph] =
    if (!LocalGate.enabled(state.reactions.sparkSession)) None
    else {
      val rs = state.reactions.schema
      val (rId, reac, prod) = (rs.fieldIndex("_id"),
        rs.fieldIndex("Reactants"), rs.fieldIndex("Products"))
      val cs = state.compounds.schema
      val (cId, cType) = (cs.fieldIndex("_id"), cs.fieldIndex("Type"))
      def ids(a: ArrayData): Array[String] =
        Array.tabulate(a.numElements())(
          a.getStruct(_, 2).getUTF8String(1).toString)
      val kept = ProtectedTypes.toSet
      CheckpointRows.within(state.reactions, "membership") {
        val rxns = CheckpointRows.rows(state.reactions).map(r =>
          Left((r.getUTF8String(rId).toString, ids(r.getArray(reac)),
            ids(r.getArray(prod)))): Graph.Row)
        val cpds = CheckpointRows.rows(state.compounds)
          .filter(r => !r.isNullAt(cType) &&
            kept(r.getUTF8String(cType).toString))
          .map(r => Right((r.getUTF8String(cId).toString,
            r.getUTF8String(cType).toString)): Graph.Row)
        LocalGate.collectUpTo(rxns.union(cpds),
          PickaxeEngine.LocalRxnLimit.toInt)
      }.map(new Graph(_))
    }

  /** The cascades' gate: reads the `_id`s of `ids`, then the membership.
    * No ids: `state` as it is, the same DataFrames. Both on the driver:
    * `local`. Otherwise `distributed`, over the ids.
    */
  def cascade(state: NetworkState, ids: DataFrame)(
      local: (Graph, Set[String]) => NetworkState)(
      distributed: DataFrame => NetworkState): NetworkState =
    readIds(ids) match {
      case Some(s) if s.isEmpty => state
      case Some(s) =>
        read(state).fold(distributed(ids.sparkSession
          .createDataset(s.toSeq)(Encoders.STRING).toDF("_id")))(local(_, s))
      case None => distributed(ids)
    }

  /** `state` with its compounds and reactions kept (`keep`) or dropped
    * by `_id`: the rows pass a broadcast set, with no join job and no
    * hash-join stage.
    */
  def select(state: NetworkState, compounds: collection.Set[String],
      reactions: collection.Set[String], keep: Boolean): NetworkState = {
    val spark = state.compounds.sparkSession
    def rows(df: DataFrame, ids: collection.Set[String]): DataFrame = {
      val b = spark.sparkContext.broadcast(ids.toSet)
      val id = df.schema.fieldIndex("_id")
      CheckpointRows.frame(spark, CheckpointRows.rows(df).filter(r =>
        b.value.contains(r.getUTF8String(id).toString) == keep),
        df.schema, df)
    }
    NetworkState(rows(state.compounds, compounds),
      rows(state.reactions, reactions), state.generation)
  }

  /** Rounds a fixpoint may run. A round that changes something adds
    * ids to a set bounded by the network, so the rounds follow the
    * network's depth; a loop past this is a fault, not a result.
    */
  val MaxRounds = 1000

  /** Runs `round`, which tells whether it changed anything, until it
    * changes nothing; fails rather than return a partial result.
    */
  def fixpoint(what: String)(round: => Boolean): Unit = {
    var rounds = 0
    while (round) {
      rounds += 1
      if (rounds >= MaxRounds) throw new IllegalStateException(
        s"$what reached no fixpoint in $MaxRounds rounds")
    }
  }
}

/** A network's membership on the driver: the predicted (`C…`)
  * reactants and products of each reaction, who produces and who
  * consumes each compound, and the protected compounds.
  */
private[pickaxe] final class Graph(rows: Array[Graph.Row]) {
  private def predicted(ids: Array[String]): Seq[String] =
    ids.filter(_.startsWith("C")).toSeq
  private val rxnRows = rows.collect { case Left(r) => r }
  private val reac = rxnRows.map(r => r._1 -> predicted(r._2)).toMap
  private val prod = rxnRows.map(r => r._1 -> predicted(r._3)).toMap
  private def index(pairs: Iterator[(String, String)]) =
    pairs.toSeq.groupMap(_._1)(_._2).view.mapValues(_.distinct).toMap
  // every product, coreactants too: the between-generations prune
  // whitelists the coreactants and keeps the reactions producing them
  private val producers =
    index(rxnRows.iterator.flatMap(r => r._3.iterator.map(_ -> r._1)))
  private val consumers =
    index(reac.iterator.flatMap { case (r, cs) => cs.map(_ -> r) })

  def reactions: Iterable[String] = reac.keys
  def reactants(rxn: String): Seq[String] = reac.getOrElse(rxn, Nil)
  def products(rxn: String): Seq[String] = prod.getOrElse(rxn, Nil)
  def members(rxn: String): Seq[String] = reactants(rxn) ++ products(rxn)
  def producedBy(c: String): Seq[String] = producers.getOrElse(c, Nil)
  def consumedBy(c: String): Seq[String] = consumers.getOrElse(c, Nil)

  val protectedIds: Set[String] = rows.collect { case Right((c, _)) => c }.toSet
  val coreactants: Set[String] =
    rows.collect { case Right((c, "Coreactant")) => c }.toSet
}

private[pickaxe] object Graph {
  /** A reaction (id, reactant ids, product ids), or a protected
    * compound (id, Type).
    */
  type Row = Either[(String, Array[String], Array[String]), (String, String)]
}
