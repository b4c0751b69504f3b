package graft.pickaxe

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** D6 + J8: the cascading delete of the filter pipeline and the
  * product-of-native back-trace, as fixpoints over the network's
  * [[Membership]]: driver-side on its [[Graph]] when the ids and the
  * membership fit the local limit, relational otherwise.
  */
object Cascade {

  /** A compound filter's result (`_apply_filter_results`,
    * base_filter.py:163-286): remove the chosen compounds, but delete a
    * reaction only when ALL its C-products are removed; products of
    * surviving reactions are resurrected; after reaction deletes,
    * newly-orphaned predicted compounds cascade — loop to fixpoint. A
    * chosen compound that survives (protected or resurrected) loses its
    * Expand flag. The ids are read once, for both. No ids: `state` as
    * it is.
    */
  def cascadeDelete(
      state: NetworkState,
      removeIds: DataFrame): NetworkState =
    Membership.cascade(state, removeIds) { (g, requested) =>
      var remove = requested -- g.protectedIds
      var dead = Set.empty[String]
      Membership.fixpoint("cascadeDelete") {
        // a reaction dies iff every C-product is in the remove set (one
        // with no C-product never dies)
        dead = g.reactions.filter(r =>
          g.products(r).nonEmpty && g.products(r).forall(remove)).toSet
        // compounds still referenced by a surviving reaction are kept
        // (resurrection, base_filter.py:274-278)
        val keepC = g.protectedIds ++
          g.reactions.filterNot(dead).flatMap(g.members)
        // the remove set only ever holds the requested compounds and
        // members of dead reactions (base_filter.py:216-238)
        val newRemove = (remove ++ dead.flatMap(g.members)) -- keepC
        // stop once a round adds no id (resurrection may shrink the set)
        val grew = !newRemove.subsetOf(remove)
        remove = newRemove
        grew
      }
      Membership.select(state, remove, dead, keep = false,
        unflag = requested)
    } { removeIds =>
      // localCheckpoint, not persist: a persisted plan opts the query out
      // of AQE re-partitioning and pins the fixpoint rounds' joins to
      // static shuffle width
      val prodM = Membership.pairs(state.reactions, "Products")
        .localCheckpoint()
      val memberM = Membership.pairs(state.reactions, "Reactants")
        .union(prodM).localCheckpoint()
      val protectedC = state.compounds.where(Membership.isProtected)
        .select("_id")
      var remove = removeIds.join(protectedC, Seq("_id"), "left_anti")
        .localCheckpoint()
      var dead = memberM.select("rxn").limit(0)
      Membership.fixpoint("cascadeDelete") {
        dead = prodM
          .join(remove.withColumnRenamed("_id", "c_id")
            .withColumn("removed", lit(true)), Seq("c_id"), "left")
          .groupBy("rxn")
          .agg(min(coalesce(col("removed"), lit(false))).as("all_removed"))
          .where(col("all_removed")).select("rxn")
          .localCheckpoint()
        val keepC = memberM.join(dead, Seq("rxn"), "left_anti")
          .select(col("c_id").as("_id")).distinct()
          .union(protectedC).distinct()
        val deadMembers = memberM.join(dead, Seq("rxn"), "left_semi")
          .select(col("c_id").as("_id")).distinct()
        val newRemove = remove.union(deadMembers)
          .distinct()
          .join(keepC, Seq("_id"), "left_anti")
          .localCheckpoint()
        val grew = !newRemove.join(remove, Seq("_id"), "left_anti").isEmpty
        remove = newRemove
        grew
      }
      val blocked = broadcast(removeIds.select(col("_id").as("__blocked")))
      NetworkState(state.compounds.join(remove, Seq("_id"), "left_anti")
          .join(blocked, col("_id") === col("__blocked"), "left")
          .withColumn("Expand", col("Expand") && col("__blocked").isNull)
          .drop("__blocked"),
        state.reactions.join(dead.withColumnRenamed("rxn", "_id"),
          Seq("_id"), "left_anti"), state.generation)
    }

  /** Reaction-driven deletion with orphan cascade (base_filter.py:
    * 216-238): remove the given reactions; compounds that were members of
    * a removed reaction and now have NO producing reaction are orphans —
    * they are removed and their consuming reactions removed too, to
    * fixpoint. Starting Compounds / Coreactants are never removed. No
    * ids: `state` as it is.
    */
  def deleteReactions(
      state: NetworkState,
      rxnIds: DataFrame): NetworkState =
    Membership.cascade(state, rxnIds) { (g, ids) =>
      val dead = mutable.HashSet.empty[String]
      val removed = mutable.HashSet.empty[String]
      val queue = mutable.Queue[String](ids.toSeq: _*)
      while (queue.nonEmpty) {
        val r = queue.dequeue()
        // an id that names no reaction of the network touches nothing
        if (dead.add(r)) g.members(r).foreach { c =>
          if (!removed(c) && !g.protectedIds(c) &&
            g.producedBy(c).forall(dead)) {
            removed += c
            g.consumedBy(c).foreach(rr => if (!dead(rr)) queue.enqueue(rr))
          }
        }
      }
      Membership.select(state, removed, dead, keep = false)
    } { rxnIds =>
      // localCheckpoint, not persist (see cascadeDelete)
      val prodM = Membership.pairs(state.reactions, "Products")
        .localCheckpoint()
      val reacM = Membership.pairs(state.reactions, "Reactants")
        .localCheckpoint()
      val protectedC = state.compounds.where(Membership.isProtected)
        .select(col("_id").as("c_id"))
      var dead = rxnIds.select(col("_id").as("rxn"))
      var removedC = protectedC.limit(0).localCheckpoint()
      Membership.fixpoint("deleteReactions") {
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
        val changed = !orphans.isEmpty || !newDead.isEmpty
        removedC = removedC.union(orphans).localCheckpoint()
        dead = dead.union(newDead).localCheckpoint()
        changed
      }
      NetworkState(
        state.compounds.join(removedC.withColumnRenamed("c_id", "_id"),
          Seq("_id"), "left_anti"),
        state.reactions.join(dead.withColumnRenamed("rxn", "_id"),
          Seq("_id"), "left_anti"), state.generation)
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
    // the native trace is C-only on the reactant side
    val nativeRxns = Membership.pairs(state.reactions, "Reactants")
      .join(nativeIds.withColumnRenamed("_id", "c_id"), Seq("c_id"),
        "left_semi")
      .select("rxn").distinct()
    Membership.pairs(state.reactions, "Products", coreactants = true)
      .join(compoundIds.withColumnRenamed("_id", "c_id"), Seq("c_id"),
        "left_semi")
      .join(nativeRxns, Seq("rxn"), "left_semi")
      .select(col("c_id").as("_id")).distinct()
  }
}
