package graft.queries

import graft.SparkSuite

/** Scale-regression guard over every registry query's physical plan:
  * a CartesianProduct (non-broadcast cartesian) anywhere is a 100 TB
  * scale-killer and fails outright; BroadcastNestedLoopJoin is allowed
  * only where it is the documented intent — a broadcast brute-force
  * baseline, broadcast centroid/probe assignment, or a 1-row aggregate
  * combination. Everything else must plan as hash/sort-merge/broadcast
  * equi-joins (candidates from band/bucket/cell keys).
  */
class PlanAuditSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries whose plans legitimately contain BroadcastNestedLoopJoin. */
  private val bnljAllowed: Set[String] = Set(
    // brute-force ANN baseline: scored = all x broadcast(queries)
    "q_sim_topk_bruteforce",
    // recall audits: exact side = all x broadcast(queries)
    "q_sim_recall", "q_sim_recall_ivfpq", "q_sim_recall_rotpq",
    // IVF assignment: all x broadcast(centroids), then cell equi-join
    "q_sim_ivf_ann", "q_sim_ivf_probe2", "q_sim_ivf_filtered",
    "q_sim_index_probe",
    "q_sim_index_probe2", "q_sim_ivf_refined", "q_sim_ivfpq",
    "q_sim_ivfpq2", "q_sim_ivfpq_rerank", "q_sim_ivfpq_residual",
    "q_sim_kmeans_stats",
    // A10 max-sim: all x broadcast(targets) — targets are a small dim
    "q_sim_maxsim_target",
    // hard-negative mining gate: all x broadcast(queries) baseline
    "q_sim_hardneg",
    // 1-row aggregate crossJoins (counts stitched side by side)
    "q_dedup_minhash_lsh", "q_graph_closure", "q_set_algebra",
    "q_orphans", "q_events_funnel", "q_dedup_recall",
    "q_dedup_index_probe", "q_events_bootstrap_diff",
    // 1-row corpus-count broadcast for the idf denominator
    "q_text_tfidf",
    // 1-row (N, avgdl) broadcast for the bm25 idf/length norm
    "q_text_bm25", "q_text_index_search",
    // 1-row total-token broadcast feeding the per-source budgets
    "q_pipeline_mixture",
    // 1-row vocabulary-count broadcast for the add-one denominator
    "q_text_perplexity", "q_text_ppl_buckets",
    // 1-row total-token broadcast for the CC-chain LM denominator
    "q_pipeline_cc",
    // 1-row total-bigram-types broadcast for the continuation prob
    "q_text_kneser_ney",
    // 1-row totals broadcast onto the ≤bins aligned bin table
    "q_drift_psi",
    // 1-row argmin (smallest satisfying width) broadcast onto the
    // ladder-sized level table
    "q_privacy_generalize",
    // 1-row (tot, vocab_size) broadcast joined to the top-20 prefix
    "q_text_vocab",
    // 1-row token-total broadcasts feeding the FIXED 64-row model
    "q_text_dsir",
    // 1-row node-count broadcast in every fixed-point iteration
    "q_graph_pagerank",
    // 1-row query-vector broadcast against the corpus (dense side)
    "q_hybrid_rrf",
    // 1-row per-column distinct counts stitched to the base profile
    "q_profile_table",
    // 1-row order-count broadcast for the lift denominator
    "q_itemsets",
    // 1-row order-count broadcast for the PMI denominator
    "q_agg_pmi",
    // catalog-scale mass search: peaks x broadcast(6-row adduct dim)
    // fan-out — the adduct table is a constant-size dimension at any
    // scale; the mass join itself is the bucketed equi-join
    "q_mass_search_scale",
    // engine fixture queries: tiny frontier crossJoin(1-row agg)
    "q_pickaxe_expand", "q_pickaxe_met_filter", "q_pickaxe_mass_search",
    "q_pickaxe_ms2", "q_pickaxe_ms2_jaccard", "q_pickaxe_likelihood",
    "q_pickaxe_thermo", "q_pickaxe_prune", "q_pickaxe_simgate",
    // 1-row total-count broadcast for the cross-multiplied threshold
    "q_agg_heavyhitters",
    // 1-row max-day broadcast anchoring the decay reference
    "q_events_decay",
    // 1-row pooled-moments broadcast onto the 2-row variant table
    "q_events_cuped",
    // 1-row global-triangle-count broadcast stitched to the top-10
    "q_graph_triangles",
    // 1-row core-size broadcast stitched to the top-20
    "q_graph_kcore",
    // MMR: all x broadcast(query vectors) relevance scoring (the
    // brute-force baseline shape), then candidates-only equi-joins
    "q_sim_mmr",
    // SQ8: 1-row per-dim min/max broadcast (encode) + all x
    // broadcast(probe codes) scoring — the brute-force probe shape;
    // the recall audit additionally broadcasts the exact side's
    // query set
    "q_sim_sq8", "q_sim_recall_sq8",
    // IVF assignment (all x broadcast centroids) + 1-row SQ8 stats
    "q_sim_ivfsq8", "q_sim_sq8_probe",
    // 1-row per-dim min/max broadcast feeding the quantize grid
    "q_zorder",
    // 1-row min/max broadcast feeding the integer bin width
    "q_agg_histogram",
    // 1-row corpus-max broadcast anchoring recency
    "q_events_rfm",
    // 1-row stats + 1-row target-bin broadcasts per refinement pass
    "q_quantile_exact")

  test("no registry query plans a CartesianProduct; " +
    "BroadcastNestedLoopJoin only where whitelisted") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.SparkEntry.queries.foreach {
      // without the NP model this query has no plan: it fails by name
      // (QueriesSpec pins the message)
      case ("q_chem_npscore", fn) if !PickaxeQueries.npModelPresent =>
        intercept[java.io.FileNotFoundException](fn(spark, sfDir))
      case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct"))
          offenders += s"$name: CartesianProduct"
        if (plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name))
          offenders += s"$name: unexpected BroadcastNestedLoopJoin"
    }
    assert(offenders.isEmpty,
      "scale-killer plans:\n" + offenders.mkString("\n"))
  }

  test("q_text_containment verify stage: size gate controls the " +
    "broadcast — no forced BroadcastExchange of the array table " +
    "above the gate") {
    // Above-gate (bcastGate = 0 forces the shuffle path) the
    // corpus-sized fingerprint-array table must NOT carry a broadcast
    // hint: with auto-broadcast disabled (what a 100 TB table's stats
    // would do anyway) the physical plan contains zero
    // BroadcastExchange. Below-gate the hint forces the two mapside
    // joins even with auto-broadcast off.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val above = TextQueries
        .containmentPipeline(spark, sfDir, bcastGate = 0L)
        .queryExecution.executedPlan.toString
      assert(!above.contains("BroadcastExchange"),
        "above-gate verify join still broadcasts the array table:\n" +
          above)
      val below = TextQueries
        .containmentPipeline(spark, sfDir, bcastGate = Long.MaxValue)
        .queryExecution.executedPlan.toString
      assert(below.contains("BroadcastExchange"),
        "below-gate verify join lost its broadcast hint:\n" + below)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_mass_search_scale: the mass join is the bucketed equi-join, " +
    "never a nested loop over the windows") {
    // the ONLY nested-loop in the plan is the peaks x 6-row adduct
    // dimension fan-out; the (window x mass) join itself must plan as
    // a hash/sort-merge join on the derived __bucket key even with
    // auto-broadcast off (what corpus-scale stats would force)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = graft.SparkEntry.queries("q_mass_search_scale")(
        spark, sfDir).queryExecution.executedPlan.toString
      assert(plan.contains("__bucket"),
        "mass join lost the bucket-key rewrite:\n" + plan)
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
      assert(bnlj <= 1,
        s"expected at most the adduct fan-out BNLJ, found $bnlj:\n" + plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        "bucket equi-join did not plan as a shuffled join:\n" + plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_pipeline_corpus plans no window anywhere — stage 1 is " +
    "sketch-aggregate + broadcast cuts, not a per-language sort") {
    // the production query localCheckpoints each stage boundary,
    // which severs the visible plan — so compose the SAME pipeline
    // with identity boundaries and audit the full chain. A
    // WindowExec anywhere (cume_dist deciles, a per-group cumsum,
    // a rank) would be the hot-language single-task sort straggler
    // this query exists to avoid. PrefixSum checkpoints internally
    // (its two-phase scan needs a frozen layout), so stage 4's scan
    // shape is pinned by its own spec; stages 1-3 + the count joins
    // are all visible here.
    val plan = TextQueries
      .corpusPipeline(spark, sfDir, identity)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "q_pipeline_corpus plan contains a Window node:\n" + plan)
    assert(plan.contains("percentile_approx"),
      "stage 1 no longer plans the GK-sketch cut aggregation:\n" + plan)
  }

  test("column pruning reaches the parquet scan: representative queries " +
    "read ONLY the columns they use") {
    // A scan whose ReadSchema carries unused columns is the 100 TB
    // I/O regression Catalyst normally prevents for free — unless a
    // plan shape (RDD round-trip, star-select before explode, UDF
    // over the whole row) silently defeats it. Pin a representative
    // query per table family: every ReadSchema for the named file
    // must be a subset of the allowed columns.
    def readSchemas(name: String, file: String): Seq[Set[String]] = {
      // sparkPlan (pre-AQE) still has the real FileSourceScanExec
      // leaves; AQE's executedPlan wrapper hides them from collect
      graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.location.rootPaths.exists(
                _.toString.contains(file)) =>
            f.requiredSchema.fieldNames.toSet
        }
    }
    val cases = Seq(
      // (query, parquet file, allowed columns for that scan)
      ("q_text_vocab", "documents.parquet", Set("text")),
      ("q_agg_pricing_summary", "lineitem.parquet",
        Set("l_returnflag", "l_linestatus", "l_quantity",
          "l_extendedprice", "l_discount")),
      ("q_events_anomaly", "events.parquet", Set("ts")),
      ("q_agg_rollup", "lineitem.parquet",
        Set("l_returnflag", "l_linestatus", "l_quantity")),
      ("q_sample_stratified", "documents.parquet",
        Set("doc_id", "lang", "n_chars")),
      // round-14 image queries: the decode kernel takes doc_id only —
      // the text column must never reach the scan
      ("q_multimodal_phash", "documents.parquet",
        Set("doc_id", "source")),
      ("q_multimodal_neardup", "documents.parquet", Set("doc_id")),
      // (q_path_enum's scans live inside the loop's checkpointed
      // rounds — its final plan has no file leaves to audit)
      ("q_multimodal_keyframes", "documents.parquet",
        Set("doc_id", "source")),
      // round-15 media queries: container synthesis + parse take
      // doc_id only — the text column must never reach the scan
      ("q_multimodal_video", "documents.parquet",
        Set("doc_id", "source")),
      ("q_multimodal_mp4frames", "documents.parquet",
        Set("doc_id", "source")),
      ("q_multimodal_audiodup", "documents.parquet",
        Set("doc_id", "source")),
      ("q_multimodal_videodup", "documents.parquet", Set("doc_id")),
      ("q_pipeline_video", "documents.parquet",
        Set("doc_id", "source")),
      ("q_pipeline_audio", "documents.parquet",
        Set("doc_id", "source")),
      ("q_multimodal_audiomd", "documents.parquet",
        Set("doc_id", "source")),
      ("q_multimodal_mp4sync", "documents.parquet",
        Set("doc_id", "source")),
      ("q_multimodal_thumbnail", "documents.parquet",
        Set("doc_id", "source")),
      ("q_multimodal_subtitles", "documents.parquet",
        Set("doc_id", "source")),
      ("q_multimodal_mp4audio", "documents.parquet",
        Set("doc_id", "source")))
      // (q_pipeline_pairs' scans live behind the membership
      // localCheckpoint — its final plan has no file leaves to audit,
      // the q_path_enum situation)
    val bad = cases.flatMap { case (q, f, allowed) =>
      val schemas = readSchemas(q, f)
      if (schemas.isEmpty) Seq(s"$q: no $f scan found in plan")
      else schemas.filterNot(_.subsetOf(allowed))
        .map(s => s"$q: $f scan reads ${s.mkString(",")} " +
          s"(allowed: ${allowed.mkString(",")})")
    }
    assert(bad.isEmpty, "unpruned scans:\n" + bad.mkString("\n"))
  }
}
