package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

class VectorIndexSpec extends SparkSuite {
  import spark.implicits._

  // 100 deterministic 8-dim vectors in 4 well-separated direction
  // groups, so cell assignment is stable and self-queries are exact
  private lazy val vectors = {
    val rows = (0 until 100).map { i =>
      val g = i % 4
      val base = Array.fill(8)(0.05f * ((i * 7 + 3) % 5))
      base(g) = 1.0f + 0.01f * (i % 10)
      (i.toLong, base.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("build/save/load round-trip: loaded probe equals in-memory probe; " +
    "self-queries find themselves") {
    val idx = VectorIndex.buildIvf(vectors, numCentroids = 4)
    val dir = java.nio.file.Files.createTempDirectory("vidx").toString
    VectorIndex.save(spark, idx, "vidx", dir, buckets = 4)
    val loaded = VectorIndex.load(spark, "vidx", dir)
    val queries = vectors.where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val mem = VectorIndex.query(idx, queries)
      .as[(Long, Long, Long, Long)].collect().toSet
    val disk = VectorIndex.query(loaded, queries)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(mem === disk)
    // parity with an in-cell brute force: the probe's best hit must be
    // the exact max-dot corpus vector of the query's own cell (dot
    // ranking, ties to the smallest id — same as q_sim_ivf_ann)
    val assigned = idx.assigned
      .select("vec_id", "cell", "qe").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Long](2).toArray))
    val cellOf = assigned.map(a => a._1 -> a._2).toMap
    val byCell = assigned.groupBy(_._2)
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val vecOf = assigned.map(a => a._1 -> a._3).toMap
    mem.foreach { case (qid, nMates, bestDot, bestN) =>
      val mates = byCell(cellOf(qid))
      assert(nMates === mates.length.toLong)
      val best = mates
        .map(mate => (dot(vecOf(qid), mate._3), mate._1))
        .max(Ordering.by((p: (Long, Long)) => (p._1, -p._2)))
      assert(bestDot === best._1)
      assert(bestN === best._2)
    }
  }

  test("nprobe=2 probes two cells and never lowers the best hit") {
    val idx = VectorIndex.buildIvf(vectors, numCentroids = 4)
    val queries = vectors.where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val p1 = VectorIndex.query(idx, queries, nprobe = 1)
      .select("query_id", "best_dot").as[(Long, Long)].collect().toMap
    val p2 = VectorIndex.query(idx, queries, nprobe = 2)
      .select("query_id", "best_dot").as[(Long, Long)].collect().toMap
    p1.foreach { case (qid, d1) => assert(p2(qid) >= d1) }
  }

  test("centroid sampling plans as a distributed partial top-k, not a " +
    "global sort") {
    val idx = VectorIndex.buildIvf(vectors, numCentroids = 4)
    val plan = idx.centroids.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject (partial top-k) in:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"centroid sample must not globally sort the corpus:\n$plan")
  }

  test("refine (Lloyd) never lowers the mean cosine to the assigned " +
    "centroid, keeps k bounded, and is deterministic") {
    val idx = VectorIndex.buildIvf(vectors, numCentroids = 4)
    def obj(ix: VectorIndex.IvfIndex): Double =
      ix.assigned
        .join(ix.centroids.withColumnRenamed("c_id", "cell"), Seq("cell"))
        .withColumn("dot", VectorOps.dot("qe", "cqe"))
        .withColumn("cos", VectorOps.cosine("dot", "nq", "cnq"))
        .agg(avg("cos")).as[Double].head()
    val r1 = VectorIndex.refine(idx, 1)
    val r2 = VectorIndex.refine(idx, 2)
    assert(r1.centroids.count() <= 4)
    assert(r2.centroids.count() <= 4)
    // spherical-k-means monotonicity, up to the integer-grid rounding
    // of the mean (components are >= 5e4 on the 1e6 grid, so rounding
    // perturbs cosines well below 1e-4)
    assert(obj(r1) >= obj(idx) - 1e-4)
    assert(obj(r2) >= obj(r1) - 1e-4)
    // deterministic: same input -> same assignment
    val r1b = VectorIndex.refine(idx, 1)
    def cells(ix: VectorIndex.IvfIndex) =
      ix.assigned.select("vec_id", "cell").as[(Long, Long)]
        .collect().toSet
    assert(cells(r1) === cells(r1b))
    // the refined index still answers probes for every query
    val queries = vectors.where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    assert(VectorIndex.query(r1, queries).count() === queries.count())
  }

  test("load falls back to parquet on a catalog miss, and a same-named " +
    "catalog table saved to a DIFFERENT path never shadows the files") {
    val idx = VectorIndex.buildIvf(vectors, numCentroids = 4)
    val dirA = java.nio.file.Files.createTempDirectory("vidxA").toString
    VectorIndex.save(spark, idx, "vidx3", dirA, buckets = 4)
    val queries = vectors.where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def probe(): Set[(Long, Long, Long, Long)] =
      VectorIndex.query(VectorIndex.load(spark, "vidx3", dirA), queries)
        .as[(Long, Long, Long, Long)].collect().toSet
    val want = probe()
    // catalog miss (fresh driver / in-memory catalog gone): the
    // external files survive the DROP and the fallback must answer
    // identically (probe re-shuffles, results equal)
    spark.sql("DROP TABLE vidx3_assigned")
    assert(probe() === want)
    // foreign shadow: a DIFFERENT index saved under the same name to
    // another path retakes the catalog name; loading dirA must read
    // dirA's files, not the catalog table pointing at dirB
    val idx2 = VectorIndex.buildIvf(
      vectors.where(col("vec_id") < 40), numCentroids = 2)
    val dirB = java.nio.file.Files.createTempDirectory("vidxB").toString
    VectorIndex.save(spark, idx2, "vidx3", dirB, buckets = 4)
    assert(probe() === want)
  }

  test("append assigns to the existing centroids: probe equals a " +
    "rebuild-assignment over the full corpus with the same centroids") {
    val old = vectors.where(col("vec_id") < 70)
    val fresh = vectors.where(col("vec_id") >= 70)
    val idx = VectorIndex.buildIvf(old, numCentroids = 4)
    val appended = VectorIndex.append(idx, fresh)
    // centroids are untouched by append
    assert(appended.centroids.collect().toSeq
      === idx.centroids.collect().toSeq)
    // rebuild-probe twin: the same centroids, assignment recomputed
    // over the FULL corpus in one batch pass
    val full = vectors
      .withColumn("qe", VectorOps.quantize("embedding"))
      .withColumn("nq", VectorOps.normSq("qe"))
      .select(col("vec_id"), col("qe"), col("nq"))
    val rebuilt = VectorIndex.IvfIndex(
      idx.centroids, VectorIndex.assignTo(idx.centroids, full))
    val queries = vectors.where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val a = VectorIndex.query(appended, queries)
      .as[(Long, Long, Long, Long)].collect().toSet
    val r = VectorIndex.query(rebuilt, queries)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(a === r)
    // new ids are actually present and probeable
    val newQ = fresh.select(col("vec_id").as("query_id"), col("embedding"))
    assert(VectorIndex.query(appended, newQ).count() === newQ.count())
  }

  test("appendSaved lands in the bucketed layout (corpus side still " +
    "exchange-free) and fails loudly without the catalog entry") {
    val old = vectors.where(col("vec_id") < 70)
    val fresh = vectors.where(col("vec_id") >= 70)
    val idx = VectorIndex.buildIvf(old, numCentroids = 4)
    val dir = java.nio.file.Files.createTempDirectory("vidxApp").toString
    VectorIndex.save(spark, idx, "vidx4", dir, buckets = 4)
    VectorIndex.appendSaved(spark, "vidx4", dir, fresh)
    val loaded = VectorIndex.load(spark, "vidx4", dir)
    assert(loaded.assigned.count() === 100L)
    // append+load probe == in-memory append probe
    val queries = vectors.where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val mem = VectorIndex.query(VectorIndex.append(idx, fresh), queries)
      .as[(Long, Long, Long, Long)].collect().toSet
    val disk = VectorIndex.query(loaded, queries)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(mem === disk)
    // bucketed layout intact after the append: a non-broadcast join on
    // cell still shuffles only the other side
    val other = idx.centroids
      .select(col("c_id").as("cell"), col("cnq"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("vidx4_assigned").join(other, Seq("cell"))
      assert(joined.count() > 0)
      val nExchanges = "Exchange hashpartitioning".r
        .findAllIn(joined.queryExecution.executedPlan.toString).length
      assert(nExchanges === 1)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // catalog gone -> loud failure, not a silent bucket-contract break
    spark.sql("DROP TABLE vidx4_assigned")
    val e = intercept[IllegalArgumentException] {
      VectorIndex.appendSaved(spark, "vidx4", dir, fresh)
    }
    assert(e.getMessage.contains("bucketed append needs the saving " +
      "catalog entry"))
  }

  test("saved assignment table joins on cell without shuffling the " +
    "corpus side") {
    val idx = VectorIndex.buildIvf(vectors, numCentroids = 4)
    val dir = java.nio.file.Files.createTempDirectory("vidx2").toString
    VectorIndex.save(spark, idx, "vidx2", dir, buckets = 4)
    val assigned = spark.table("vidx2_assigned")
    val other = idx.centroids
      .select(col("c_id").as("cell"), col("cnq"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = assigned.join(other, Seq("cell"))
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      // the probe side shuffles to the bucket layout; the corpus side
      // must not — exactly ONE hash-partitioning exchange in the plan
      val nExchanges = "Exchange hashpartitioning".r
        .findAllIn(plan).length
      assert(nExchanges === 1,
        s"expected one exchange (probe side only), got $nExchanges:\n$plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("IVF-PQ index: save/load probe parity, agreement with the " +
    "adcScoreCandidates path, exchange-free coded side") {
    import org.apache.spark.sql.expressions.Window
    // 8-dim fixture -> m=4 subspaces x 2 dims, 8 codebook entries
    val e = vectors
      .withColumn("qe", VectorOps.quantize("embedding"))
      .withColumn("nq", VectorOps.normSq("qe"))
      .select("vec_id", "qe", "nq")
    val idx = VectorIndex.buildIvfPqIndex(e, kCentroids = 4,
      m = 4, subLen = 2, kCodes = 8)
    val dir = java.nio.file.Files.createTempDirectory("vpq").toString
    VectorIndex.savePq(spark, idx, "vpq", dir, buckets = 4)
    val loaded = VectorIndex.loadPq(spark, "vpq", dir)
    val queries = vectors.where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val mem = VectorIndex.queryPq(idx, queries)
      .as[(Long, Long, Long, Long)].collect().toSet
    val disk = VectorIndex.queryPq(loaded, queries)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(mem.nonEmpty)
    assert(mem === disk)
    // independent path: the same candidates scored through
    // adcScoreCandidates (per-(id, j) rows) must reduce to the same
    // best hit as queryPq's packed posexplode path
    val q2 = queries
      .withColumn("qe", VectorOps.quantize("embedding"))
      .withColumn("qnq", VectorOps.normSq("qe"))
    val qCells = q2.crossJoin(broadcast(idx.centroids))
      .withColumn("dot", VectorOps.dot("cqe", "qe"))
      .withColumn("cos", VectorOps.cosine("dot", "cnq", "qnq"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc,
          col("c_id").asc)))
      .where(col("rn") === 1)
      .select(col("query_id"), col("c_id").as("cell"))
    val cand = idx.coded.select("vec_id", "cell")
      .join(qCells, Seq("cell")).select("query_id", "vec_id")
    val unpacked = idx.coded.select(col("vec_id"),
      posexplode(col("codes")).as(Seq("j", "code")))
    val expected = ProductQuantizer
      .adcScoreCandidates(q2.select(col("query_id"), col("qe")), cand,
        unpacked, idx.codebook, m = 4, subLen = 2)
      .groupBy("query_id")
      .agg(count(lit(1)).as("n"),
        min(struct(col("adist").as("ad"), col("vec_id").as("id")))
          .as("m"))
      .select(col("query_id"), col("n"), col("m.ad"), col("m.id"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(mem === expected)
    // bucketed coded side: a non-broadcast join on cell shuffles only
    // the other side
    val other = idx.centroids.select(col("c_id").as("cell"), col("cnq"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("vpq_coded").join(other, Seq("cell"))
      assert(joined.count() > 0)
      val nExchanges = "Exchange hashpartitioning".r
        .findAllIn(joined.queryExecution.executedPlan.toString).length
      assert(nExchanges === 1)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("IVF-PQ append: arrivals code against the existing geometry, " +
    "saved append equals in-memory append, catalog miss fails loudly") {
    val old = vectors.where(col("vec_id") < 70)
    val fresh = vectors.where(col("vec_id") >= 70)
    val e70 = old
      .withColumn("qe", VectorOps.quantize("embedding"))
      .withColumn("nq", VectorOps.normSq("qe"))
      .select("vec_id", "qe", "nq")
    val idx = VectorIndex.buildIvfPqIndex(e70, kCentroids = 4,
      m = 4, subLen = 2, kCodes = 8)
    val dir = java.nio.file.Files.createTempDirectory("vpqApp").toString
    VectorIndex.savePq(spark, idx, "vpq2", dir, buckets = 4)
    VectorIndex.appendSavedPq(spark, "vpq2", dir, fresh)
    val loaded = VectorIndex.loadPq(spark, "vpq2", dir)
    assert(loaded.coded.count() === 100L)
    val queries = vectors.where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val mem = VectorIndex.queryPq(VectorIndex.appendPq(idx, fresh),
        queries)
      .as[(Long, Long, Long, Long)].collect().toSet
    val disk = VectorIndex.queryPq(loaded, queries)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(mem === disk)
    // catalog gone -> loud failure, not a silent bucket-contract break
    spark.sql("DROP TABLE vpq2_coded")
    val err = intercept[IllegalArgumentException] {
      VectorIndex.appendSavedPq(spark, "vpq2", dir, fresh)
    }
    assert(err.getMessage.contains("bucketed append needs the saving " +
      "catalog entry"))
  }

  test("probe cell ranking sends a degenerate (zero-norm) centroid " +
    "last, matching argmaxCell and the streaming closures") {
    // a zero vector in the corpus can be sampled as a centroid. Its
    // cosine is undefined: plain `/` under ANSI would THROW
    // (DIVIDE_BY_ZERO) and kill the probe, and a NaN under `cos.desc`
    // would rank FIRST (Spark sorts NaN largest) while argmaxCell
    // ranks it last. With try_divide the cosine is NULL and
    // the coalesce(-cos, +Inf) key ranks it last everywhere. Force
    // that geometry: 2 vectors, 2 centroids (both vectors), one of
    // them all-zero.
    val degen = Seq(
      (0L, Seq.fill(8)(0.0f)),
      (1L, (Seq(1.0f) ++ Seq.fill(7)(0.0f)))).toDF("vec_id", "embedding")
    val idx = VectorIndex.buildIvf(degen, numCentroids = 2)
    // both centroids exist, one with zero norm
    assert(idx.centroids.count() === 2L)
    val queries = degen.where(col("vec_id") === 1L)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val hit = VectorIndex.query(idx, queries, nprobe = 1)
      .select("best_neighbor").as[Long].collect()
    // nprobe=1 must pick the REAL centroid's cell (cos=1), not the
    // NaN cell — so the best neighbor is the query itself
    assert(hit.toSeq === Seq(1L))
  }
}
