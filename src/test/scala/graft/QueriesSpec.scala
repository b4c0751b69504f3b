package graft

import graft.queries.{PickaxeQueries, Registry}

/** Smoke: every registered query runs on sf0.001 and returns rows with the
  * expected non-empty schema. Oracle equality is checked by the driver (and
  * scripts/check.py) at sf0.01; here we pin a few cheap exact values.
  */
class QueriesSpec extends SparkSuite {

  for (q <- Registry.all) {
    test(s"${q.name} runs on sf0.001") {
      if (q.name == "q_chem_npscore" && !PickaxeQueries.npModelPresent) {
        // no stub scores in place of the model: the query names what
        // is missing and how to supply it
        val e = intercept[java.io.FileNotFoundException](q.run(spark, sf))
        assert(e.getMessage.contains(PickaxeQueries.npModelPath))
        assert(e.getMessage.contains("SPARK_GRAFT_NP_MODEL"))
      } else {
        val df = q.run(spark, sf)
        assert(df.columns.nonEmpty)
        assert(df.count() >= 0)
      }
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle keys are a subset of query keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("q_agg_pricing_summary row count and grand total") {
    val df = SparkEntry.queries("q_agg_pricing_summary")(spark, sf)
    val rows = df.collect()
    assert(rows.length === 6) // 3 returnflags x 2 linestatuses
    val n = rows.map(_.getAs[Long]("count_order")).sum
    assert(n === Tables.load(spark, sf, "lineitem").count())
  }

  test("q_dedup_minhash_lsh summary row is consistent") {
    val r = SparkEntry.queries("q_dedup_minhash_lsh")(spark, sf).collect().head
    assert(r.getAs[Long]("n_docs") ===
      Tables.load(spark, sf, "documents").count())
    assert(r.getAs[Long]("n_candidate_pairs") >= r.getAs[Long]("n_dup_pairs"))
    assert(r.getAs[Double]("avg_exact_jac") <= 1.0)
  }

  test("q_sim_topk_bruteforce yields exactly 3 ranked neighbors per query") {
    val df = SparkEntry.queries("q_sim_topk_bruteforce")(spark, sf)
    val perQuery = df.groupBy("query_id").count().collect()
    assert(perQuery.nonEmpty)
    assert(perQuery.forall(_.getAs[Long]("count") === 3L))
  }

  test("q_sim_lsh_ann and q_sim_ivf_ann best matches agree with brute force " +
    "when the bucket/cell contains the true neighbor") {
    val bf = SparkEntry.queries("q_sim_topk_bruteforce")(spark, sf)
      .where(org.apache.spark.sql.functions.col("rnk") === 1)
      .select("query_id", "neighbor_id", "dot").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val lsh = SparkEntry.queries("q_sim_lsh_ann")(spark, sf)
      .select("query_id", "best_neighbor", "best_dot").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // ANN is approximate: best_dot can never EXCEED brute force, and
    // when it matches the true top-1 the neighbor ids agree
    for ((q, (bn, bd)) <- lsh if bd >= 0) {
      assert(bd <= bf(q)._2)
      if (bd == bf(q)._2) assert(bn === bf(q)._1)
    }
  }

  test("q_sample_weighted is deterministic") {
    val a = SparkEntry.queries("q_sample_weighted")(spark, sf).collect()
    val b = SparkEntry.queries("q_sample_weighted")(spark, sf).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    assert(a.length === 50)
  }

  test("q_text_containment pairs all meet the asymmetric 0.8 bound") {
    val rows = SparkEntry.queries("q_text_containment")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("contained") !== r.getAs[Long]("container"))
      // the integer-exact gate the query promises
      assert(r.getAs[Long]("overlap") * 5 >= r.getAs[Long]("n_a") * 4)
      assert(r.getAs[Long]("overlap") <= r.getAs[Long]("n_a"))
    }
    // the synthetic corpus carries at least one full subsumption
    assert(rows.exists(_.getAs[Double]("containment") === 1.0))
  }

  test("q_sim_mmr picks the true top-1 first, then diversifies") {
    val mmr = SparkEntry.queries("q_sim_mmr")(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
    val bf = SparkEntry.queries("q_sim_topk_bruteforce")(spark, sf)
      .collect().groupBy(_.getAs[Long]("query_id"))
    assert(mmr.nonEmpty)
    for ((q, rows) <- mmr) {
      val byStep = rows.sortBy(_.getAs[Int]("step"))
      assert(byStep.map(_.getAs[Int]("step")).toSeq === Seq(1, 2, 3))
      // step 1 is pure relevance: must equal the brute-force top-1
      assert(byStep.head.getAs[Long]("vec_id") ===
        bf(q).minBy(_.getAs[Int]("rnk")).getAs[Long]("neighbor_id"))
      // selections are distinct
      assert(byStep.map(_.getAs[Long]("vec_id")).distinct.length === 3)
    }
  }

  test("q_agg_hll sketch state is structurally sound per group") {
    val rows = SparkEntry.queries("q_agg_hll")(spark, sf).collect()
    assert(rows.nonEmpty)
    // sf0.001 per-flag cardinality (~1.1k) sits BELOW the raw
    // estimator's 2.5m operating zone (the documented small-range
    // bias — the oracle gate at sf0.01 checks the numbers), so pin
    // the exact-integer sketch state instead of the estimate:
    rows.foreach { r =>
      val nonempty = r.getAs[Long]("nonempty")
      val exact = r.getAs[Long]("exact_nd")
      assert(nonempty >= 1L && nonempty <= 4096L)
      assert(nonempty <= exact) // buckets can only collide, never split
      assert(nonempty * 2 >= exact - 4096,
        "occupancy too low for the cardinality")
      assert(r.getAs[Long]("z_scaled") > 0L)
      assert(r.getAs[Double]("hll_est") > 0.0)
    }
  }
}
