package graft.pickaxe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.LocalGate

/** D6 + J8: the cascading delete of the filter pipeline and the
  * product-of-native back-trace, as relational fixpoints.
  */
object Cascade {

  /** The size gate of both fixpoints: the network has at most
    * `PickaxeEngine.LocalRxnLimit` reactions. With
    * `spark.graft.localPaths=false` the answer is no, without the count.
    */
  private def localPath(state: NetworkState): Boolean =
    LocalGate.enabled(state.reactions.sparkSession) &&
      state.reactions.count() <= PickaxeEngine.LocalRxnLimit

  /** Cascading filter delete (base_filter.py:163-286): remove the chosen
    * compounds, but delete a reaction only when ALL its C-products are
    * removed; products of surviving reactions are resurrected; after
    * reaction deletes, newly-orphaned predicted compounds cascade — loop
    * to fixpoint.
    */
  def cascadeDelete(
      state: NetworkState,
      removeIds: DataFrame): NetworkState = {
    val spark = state.compounds.sparkSession
    // SIZE-GATED HYBRID (see PickaxeEngine.pruneToTargets): small networks
    // run the identical fixpoint driver-side in one collect instead of
    // paying per-round Spark job overhead; large ones stay distributed.
    if (localPath(state))
      return cascadeDeleteLocal(state, removeIds)
    val prodM = state.reactions
      .select(col("_id").as("rxn"), explode(col("Products")).as("m"))
      .select(col("rxn"), col("m.c_id").as("c_id"))
      // localCheckpoint, not persist: a persisted plan opts the query out
      // of AQE re-partitioning and pins the fixpoint rounds' joins to
      // static shuffle width (the PathwaySearch/PickaxeEngine fix)
      .where(col("c_id").startsWith("C")).localCheckpoint()
    val reacAndProd = state.reactions
      .select(col("_id").as("rxn"), explode(concat(col("Reactants"),
        col("Products"))).as("m"))
      .select(col("rxn"), col("m.c_id").as("c_id"))
      // localCheckpoint, not persist: a persisted plan opts the query out
      // of AQE re-partitioning and pins the fixpoint rounds' joins to
      // static shuffle width (the PathwaySearch/PickaxeEngine fix)
      .where(col("c_id").startsWith("C")).localCheckpoint()
    // compounds never removable: starting compounds + coreactants
    val protectedC = state.compounds
      .where(col("Type").isin("Starting Compound", "Coreactant"))
      .select("_id")

    var remove = removeIds.select("_id").distinct()
      .join(protectedC, Seq("_id"), "left_anti")
      .localCheckpoint()
    var deadRxns = spark.emptyDataFrame.select(lit("").as("rxn")).limit(0)
    var stable = false
    var iter = 0
    val maxIter = 1000 // defensive cap; each round strictly grows `remove`
    while (!stable && iter < maxIter) {
      iter += 1
      // a reaction dies iff every C-product is in the remove set
      val dead = prodM
        .join(remove.withColumnRenamed("_id", "c_id")
          .withColumn("removed", lit(true)), Seq("c_id"), "left")
        .groupBy("rxn")
        .agg(min(coalesce(col("removed"), lit(false))).as("all_removed"))
        .where(col("all_removed")).select("rxn")
        .localCheckpoint()
      // compounds still referenced by a surviving reaction are kept
      // (resurrection, base_filter.py:274-278)
      val keepC = reacAndProd.join(dead, Seq("rxn"), "left_anti")
        .select(col("c_id").as("_id")).distinct()
        .union(protectedC).distinct()
      // the remove set only ever contains: compounds explicitly requested,
      // plus members of DEAD reactions orphaned by the cascade — never
      // arbitrary unreferenced compounds (base_filter.py:216-238)
      val deadMembers = reacAndProd.join(dead, Seq("rxn"), "left_semi")
        .select(col("c_id").as("_id")).distinct()
      val newRemove = remove.union(deadMembers)
        .distinct()
        .join(keepC, Seq("_id"), "left_anti")
        .localCheckpoint()
      // monotone growth: stable once no new ids were added
      stable = newRemove.join(remove, Seq("_id"), "left_anti").isEmpty
      remove = newRemove
      deadRxns = dead
    }
    val outC = state.compounds.join(remove, Seq("_id"), "left_anti")
    val outR = state.reactions.join(
      deadRxns.withColumnRenamed("rxn", "_id"), Seq("_id"), "left_anti")
    NetworkState(outC, outR, state.generation)
  }

  /** Driver-side twin of the distributed fixpoint above — identical
    * dead-reaction / resurrection / orphan-cascade semantics, one collect
    * of the reaction membership plus the (small) protected/remove id sets.
    */
  private def cascadeDeleteLocal(
      state: NetworkState,
      removeIds: DataFrame): NetworkState = {
    import scala.collection.mutable
    val spark = state.compounds.sparkSession
    import spark.implicits._
    val members = state.reactions
      .select(col("_id").as("rxn"), col("Reactants"), col("Products"))
      .as[(String, Seq[Stoich], Seq[Stoich])]
      .collect()
    val prodOf = members.map { case (r, _, p) =>
      r -> p.map(_.c_id).filter(_.startsWith("C"))
    }.toMap
    val memberOf = members.map { case (r, re, p) =>
      r -> (re ++ p).map(_.c_id).filter(_.startsWith("C")).distinct
    }.toMap
    val protectedC = state.compounds
      .where(col("Type").isin("Starting Compound", "Coreactant"))
      .select("_id").as[String].collect().toSet
    var remove = removeIds.select("_id").distinct().as[String]
      .collect().toSet -- protectedC
    var dead = Set.empty[String]
    var stable = false
    while (!stable) {
      // a reaction dies iff every C-product is in the remove set
      // (a rxn with no C-products has no prodM rows distributed-side:
      // it can never die)
      dead = memberOf.keysIterator
        .filter(r => prodOf(r).nonEmpty && prodOf(r).forall(remove.contains))
        .toSet
      val keepC = mutable.HashSet.empty[String]
      memberOf.foreach { case (r, cs) =>
        if (!dead.contains(r)) keepC ++= cs
      }
      keepC ++= protectedC
      val deadMembers = dead.iterator.flatMap(memberOf(_))
      val newRemove = (remove ++ deadMembers).filterNot(keepC.contains)
      // same stop rule as the distributed path: no NEW ids this round
      // (resurrection may shrink the set; that alone does not loop again)
      stable = (newRemove -- remove).isEmpty
      remove = newRemove
    }
    val outC = state.compounds.join(
      broadcast(remove.toSeq.toDF("_id")), Seq("_id"), "left_anti")
    val outR = state.reactions.join(
      broadcast(dead.toSeq.toDF("_id")), Seq("_id"), "left_anti")
    NetworkState(outC, outR, state.generation)
  }

  /** Reaction-driven deletion with orphan cascade (base_filter.py:
    * 216-238): remove the given reactions; compounds that were members of
    * a removed reaction and now have NO producing reaction are orphans —
    * they are removed and their consuming reactions removed too, to
    * fixpoint. Starting Compounds / Coreactants are never removed
    * (documented deviation; see cascadeDelete).
    *
    * SIZE-GATED like cascadeDelete: small networks run the fixpoint
    * driver-side in one collect; large ones run iterative semi-joins.
    */
  def deleteReactions(
      state: NetworkState,
      rxnIds: DataFrame): NetworkState = {
    if (localPath(state))
      return deleteReactionsLocal(state, rxnIds)
    val prodM = state.reactions
      .select(col("_id").as("rxn"), explode(col("Products")).as("m"))
      .select(col("rxn"), col("m.c_id").as("c_id"))
      // localCheckpoint, not persist: a persisted plan opts the query out
      // of AQE re-partitioning and pins the fixpoint rounds' joins to
      // static shuffle width (the PathwaySearch/PickaxeEngine fix)
      .where(col("c_id").startsWith("C")).localCheckpoint()
    val reacM = state.reactions
      .select(col("_id").as("rxn"), explode(col("Reactants")).as("m"))
      .select(col("rxn"), col("m.c_id").as("c_id"))
      // localCheckpoint, not persist: a persisted plan opts the query out
      // of AQE re-partitioning and pins the fixpoint rounds' joins to
      // static shuffle width (the PathwaySearch/PickaxeEngine fix)
      .where(col("c_id").startsWith("C")).localCheckpoint()
    val protectedC = state.compounds
      .where(col("Type").isin("Starting Compound", "Coreactant"))
      .select(col("_id").as("c_id"))
    var dead = rxnIds.select(col("_id").as("rxn")).distinct().localCheckpoint()
    var removedC = state.compounds.select(col("_id").as("c_id")).limit(0)
      .localCheckpoint()
    var stable = false
    while (!stable) {
      // orphan = touched compound with no surviving producer
      val touched = prodM.union(reacM).join(dead, Seq("rxn"), "left_semi")
        .select("c_id").distinct()
      val stillProduced = prodM.join(dead, Seq("rxn"), "left_anti")
        .select("c_id").distinct()
      val orphans = touched.join(stillProduced, Seq("c_id"), "left_anti")
        .join(protectedC, Seq("c_id"), "left_anti")
        .join(removedC, Seq("c_id"), "left_anti")
        .localCheckpoint()
      val newDead = reacM.join(orphans, Seq("c_id"), "left_semi")
        .select("rxn").distinct()
        .join(dead, Seq("rxn"), "left_anti").localCheckpoint()
      stable = orphans.isEmpty && newDead.isEmpty
      removedC = removedC.union(orphans).localCheckpoint()
      dead = dead.union(newDead).localCheckpoint()
    }
    val outC = state.compounds.join(
      removedC.withColumnRenamed("c_id", "_id"), Seq("_id"), "left_anti")
    val outR = state.reactions.join(
      dead.withColumnRenamed("rxn", "_id"), Seq("_id"), "left_anti")
    NetworkState(outC, outR, state.generation)
  }

  private def deleteReactionsLocal(
      state: NetworkState,
      rxnIds: DataFrame): NetworkState = {
    import scala.collection.mutable
    val spark = state.compounds.sparkSession
    import spark.implicits._
    val members = state.reactions
      .select(col("_id").as("rxn"), col("Reactants"), col("Products"))
      .as[(String, Seq[Stoich], Seq[Stoich])]
      .collect()
    val prodOf = members.map { case (r, _, p) =>
      r -> p.map(_.c_id).filter(_.startsWith("C"))
    }.toMap
    val reacOf = members.map { case (r, re, _) =>
      r -> re.map(_.c_id).filter(_.startsWith("C"))
    }.toMap
    val producedBy = mutable.HashMap.empty[String, mutable.HashSet[String]]
    val consumedBy = mutable.HashMap.empty[String, mutable.HashSet[String]]
    members.foreach { case (r, _, _) =>
      prodOf(r).foreach(c =>
        producedBy.getOrElseUpdate(c, mutable.HashSet.empty) += r)
      reacOf(r).foreach(c =>
        consumedBy.getOrElseUpdate(c, mutable.HashSet.empty) += r)
    }
    val protectedC = state.compounds
      .where(col("Type").isin("Starting Compound", "Coreactant"))
      .select("_id").as[String].collect().toSet
    val dead = mutable.HashSet.empty[String]
    val removed = mutable.HashSet.empty[String]
    val queue = mutable.Queue[String](
      rxnIds.select("_id").distinct().as[String].collect().toIndexedSeq: _*)
    while (queue.nonEmpty) {
      val r = queue.dequeue()
      if (dead.add(r)) {
        // members touched by this deletion: orphan check (an id that
        // names no reaction of the network touches nothing, as on the
        // distributed path)
        (prodOf.getOrElse(r, Nil) ++ reacOf.getOrElse(r, Nil)).foreach { c =>
          if (!removed(c) && !protectedC(c) &&
            producedBy.getOrElse(c, mutable.HashSet.empty)
              .forall(dead.contains)) {
            removed += c
            consumedBy.getOrElse(c, mutable.HashSet.empty)
              .foreach(rr => if (!dead(rr)) queue.enqueue(rr))
          }
        }
      }
    }
    val outC = state.compounds.join(
      broadcast(removed.toSeq.toDF("_id")), Seq("_id"), "left_anti")
    val outR = state.reactions.join(
      broadcast(dead.toSeq.toDF("_id")), Seq("_id"), "left_anti")
    NetworkState(outC, outR, state.generation)
  }

  /** J8 (check_product_of_native, metabolomics.py:273-352): of the given
    * compound ids, return those produced by at least one reaction whose
    * reactants include a native-set compound — the 3-stage Mongo $lookup
    * chain as two semi-joins.
    */
  def productOfNative(
      state: NetworkState,
      compoundIds: DataFrame, // column `_id`
      nativeIds: DataFrame // column `_id`
  ): DataFrame = {
    val prodM = state.reactions
      .select(col("_id").as("rxn"), explode(col("Products")).as("m"))
      .select(col("rxn"), col("m.c_id").as("c_id"))
    val reacM = state.reactions
      .select(col("_id").as("rxn"), explode(col("Reactants")).as("m"))
      .select(col("rxn"), col("m.c_id").as("c_id"))
      .where(col("c_id").startsWith("C")) // native trace is C-only
    val nativeRxns = reacM
      .join(nativeIds.withColumnRenamed("_id", "c_id"), Seq("c_id"),
        "left_semi")
      .select("rxn").distinct()
    prodM
      .join(compoundIds.withColumnRenamed("_id", "c_id"), Seq("c_id"),
        "left_semi")
      .join(nativeRxns, Seq("rxn"), "left_semi")
      .select(col("c_id").as("_id")).distinct()
  }
}
