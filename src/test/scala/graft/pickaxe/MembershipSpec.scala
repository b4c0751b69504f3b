package graft.pickaxe

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.functions._

import graft.{Harness, SparkSuite}
import graft.operators.LocalGate

/** The filter cascades on the inline 31/49 kinase network: each local
  * path reads the ids and the membership in one bounded job each and
  * writes its result without a join, and it returns what the
  * distributed path returns.
  */
class MembershipSpec extends SparkSuite {
  import spark.implicits._

  private lazy val net: NetworkState =
    KinaseFixture.engine(spark).run(Seq(KinaseFixture.fadh), generations = 2)

  private def ids(st: NetworkState): (Seq[String], Seq[String]) =
    (st.compounds.select("_id").as[String].collect().sorted.toSeq,
      st.reactions.select("_id").as[String].collect().sorted.toSeq)

  /** `body`'s result and the Spark jobs it ran. */
  private def jobs[A](tag: String)(body: => A): (A, Long) = {
    Harness.Collector.setup(spark.sparkContext)
    val out = Harness.Collector.tagged(spark, s"MembershipSpec $tag")(body)
    ListenerBusDrain(spark.sparkContext)
    (out, Harness.Collector.layers(s"MembershipSpec $tag").get.jobs)
  }

  test("cascadeDelete's local path runs 2 jobs on the 31/49 network and " +
    "returns the distributed path's network") {
    assert(ids(net)._1.size === 31 && ids(net)._2.size === 49)
    val gen2 = net.compounds.where(col("Generation") === 2).select("_id")
      .as[String].collect().toSeq
    val (local, n) = jobs("cascadeDelete")(
      Cascade.cascadeDelete(net, gen2.toDF("_id")))
    // the removal ids, then the membership
    assert(n === 2L)
    val dist = withConf(LocalGate.key, "false")(
      Cascade.cascadeDelete(net, gen2.toDF("_id")))
    assert(ids(local) === ids(dist))
    // every reaction has one C-product: the generation-2 reactions die
    // and take their products along, generations 0 and 1 stay
    assert(ids(local)._1 === net.compounds.where(col("Generation") < 2)
      .select("_id").as[String].collect().sorted.toSeq)
    assert(ids(local)._2.size < 49)
  }

  test("deleteReactions' local path runs 2 jobs on the 31/49 network and " +
    "returns the distributed path's network") {
    val gen1 = net.compounds.where(col("Generation") === 1).select("_id")
      .as[String].collect().toSet
    val gen1Rxn = net.reactions.select(col("_id"), col("Products.c_id"))
      .as[(String, Seq[String])].collect()
      .collect { case (r, ps) if ps.exists(gen1) => r }.min
    val (local, n) = jobs("deleteReactions")(
      Cascade.deleteReactions(net, Seq(gen1Rxn).toDF("_id")))
    // the reaction ids, then the membership
    assert(n === 2L)
    val dist = withConf(LocalGate.key, "false")(
      Cascade.deleteReactions(net, Seq(gen1Rxn).toDF("_id")))
    assert(ids(local) === ids(dist))
    // the orphaned generation-1 product goes, with what it fed
    assert(ids(local)._1.size < 31)
    assert(ids(local)._2.size < 48)
  }

  test("deleteReactions with no ids returns its input network after one " +
    "job") {
    val (out, n) = jobs("deleteReactions none")(
      Cascade.deleteReactions(net,
        net.reactions.where(col("_id") === "none").select("_id")))
    assert(n === 1L)
    assert((out.compounds eq net.compounds) && (out.reactions eq net.reactions))
  }
}
