package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent IVF (inverted-file) ANN index over an embedding column —
  * the build/save/load/probe surface around the q_sim_ivf_ann query
  * shape: a deterministic coarse quantizer (a bounded md5-ordered
  * sample of k ≈ √n vectors, exact integer-cosine argmax assignment)
  * partitions the corpus into cells; queries probe their `nprobe`
  * nearest cells through one cell equi-join.
  *
  * Scale posture: `save` writes the assignment table BUCKETED BY cell
  * (`bucketBy` + `sortBy`), so every later probe joins against the
  * write-time layout — the corpus side of the probe join never
  * shuffles again; only the (small) query side exchanges to the bucket
  * partitioning. Centroids are a plain small parquet table and
  * broadcast at probe time.
  */
object VectorIndex {

  /** In-memory handle: small centroid table + per-vector assignment. */
  final case class IvfIndex(
      centroids: DataFrame, // c_id, cqe, cnq
      assigned: DataFrame) // vec_id, cell, qe, nq

  /** THE deterministic md5-ordered draw — the k first rows in
    * (md5(vec_id), vec_id) order, `__h` retained for downstream rank
    * assignment. Every sampled-selection surface (IVF centroids here,
    * PQ codebooks in [[ProductQuantizer.codebook]]) must stay
    * bit-identical to the gate oracles' ORDER BY md5 LIMIT k CTEs, so
    * the draw has exactly one definition. Plans as a distributed
    * partial top-k (TakeOrderedAndProject, spec-pinned).
    */
  def orderedSample(e: DataFrame, k: Int): DataFrame =
    e.withColumn("__h", expr(TextOps.hash64("cast(vec_id as string)")))
      .orderBy(col("__h"), col("vec_id"))
      .limit(k)

  /** Deterministic centroid sample ([[orderedSample]]) — shared by
    * [[buildIvf]] and the q_sim_ivf_* query pack. Input needs
    * (vec_id, qe, nq).
    */
  def sampleCentroids(e: DataFrame, k: Int): DataFrame =
    orderedSample(e, k)
      .select(col("vec_id").as("c_id"), col("qe").as("cqe"),
        col("nq").as("cnq"))

  /** Engine-parity-critical nearest-centroid argmax over a scored
    * (idCol, c_id, cos) relation, as a map-side-collapsing
    * AGGREGATION: min(struct(coalesce(-cos, +Inf), c_id)) = cos desc,
    * ties to the smaller centroid id, null cos (zero-norm vector)
    * last — identical ranking to a row_number window but partial
    * aggregation collapses n x k rows to n before the shuffle. One
    * definition shared by [[buildIvf]], [[refine]], and the
    * q_sim_ivf_* queries so the tie-break semantics cannot diverge.
    */
  def argmaxCell(scored: DataFrame, idCol: String = "vec_id"): DataFrame =
    scored.groupBy(idCol)
      .agg(min(struct(
        coalesce(-col("cos"), lit(Double.PositiveInfinity)).as("nc"),
        col("c_id").as("cid"))).as("m"))
      .select(col(idCol), col("m.cid").as("cell"))

  /** Quantize + assign every vector to its nearest centroid (exact
    * integer cosine, ties to the smaller centroid id — identical math
    * to q_sim_ivf_ann, so results are engine-reproducible).
    *
    * Centroid count: `numCentroids` when > 0, else
    * [[VectorOps.suggestedCentroids]] (k ≈ √n capped at 4096) from the
    * corpus row count — NEVER proportional to n, so the broadcast
    * centroid table stays bounded and assignment work stays linear at
    * any corpus size. Centroids are the k first vectors in md5(vec_id)
    * order (ties by vec_id): a deterministic pseudo-random sample that
    * both engines (and the DuckDB oracle) recompute identically, and
    * that Spark plans as a distributed partial top-k
    * (TakeOrderedAndProject) — no full sort, no collect of the corpus.
    */
  /** Raw (idCol, embCol) vectors -> the internal (vec_id, qe, nq)
    * quantized shape shared by build/append/probe.
    */
  private def quantizedVectors(
      vectors: DataFrame, idCol: String, embCol: String): DataFrame =
    vectors
      .withColumn("qe", VectorOps.quantize(embCol))
      .withColumn("nq", VectorOps.normSq("qe"))
      .select(col(idCol).as("vec_id"), col("qe"), col("nq"))

  /** Assign quantized (vec_id, qe, nq) vectors to FIXED centroids —
    * the broadcast-argmax used by [[buildIvf]], [[refine]], and
    * [[append]], factored so the incremental path cannot drift from
    * the build path.
    */
  def assignTo(centroids: DataFrame, e: DataFrame): DataFrame = {
    val cellOf = argmaxCell(
      e.crossJoin(broadcast(centroids))
        .withColumn("dot", VectorOps.dot("cqe", "qe"))
        .withColumn("cos", VectorOps.cosine("dot", "cnq", "nq")))
    e.join(cellOf, Seq("vec_id")).select("vec_id", "cell", "qe", "nq")
  }

  def buildIvf(
      vectors: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      numCentroids: Int = 0): IvfIndex = {
    val e = quantizedVectors(vectors, idCol, embCol)
    val k =
      if (numCentroids > 0) numCentroids
      else VectorOps.suggestedCentroids(vectors.count())
    val cent = sampleCentroids(e, k)
    IvfIndex(cent, assignTo(cent, e))
  }

  /** Incremental append: assign `newVectors` to the EXISTING centroids
    * (same broadcast-argmax as build — no centroid drift, no
    * re-clustering of the corpus) and union them into the assignment.
    * Ids must be disjoint from the indexed corpus (caller contract —
    * the index never dedups).
    *
    * Distribution-shift contract: appended vectors always land in
    * their nearest EXISTING cell, so cells stay probe-correct but grow
    * lopsided if the arrival distribution departs from the build
    * sample; cell geometry refreshes only on an offline rebuild/refine
    * of the full corpus (swap indexes under the reader like any static
    * side).
    */
  def append(
      index: IvfIndex,
      newVectors: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): IvfIndex =
    IvfIndex(index.centroids,
      index.assigned.unionByName(
        assignTo(index.centroids,
          quantizedVectors(newVectors, idCol, embCol))))

  /** [[append]] against a SAVED index: assigns arrivals to the saved
    * centroids and appends them to the bucketed assignment table —
    * Spark validates the bucket spec, so the write lands in the same
    * cell-bucketed layout and later probes stay exchange-free on the
    * corpus side. Requires the catalog entry from [[save]] (same
    * session or shared metastore) to still point at `path`: appending
    * bare parquet under a bucketed table would silently break the
    * bucket contract, so a catalog miss fails loudly instead.
    */
  def appendSaved(
      spark: SparkSession,
      name: String,
      path: String,
      newVectors: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Unit = {
    val tbl = s"${name}_assigned"
    require(catalogMatchesPath(spark, tbl, path),
      s"appendSaved: catalog table $tbl missing or not at $path — " +
        "a bucketed append needs the saving catalog entry; rebuild " +
        "(or re-save) the index instead")
    // the saved table's bucket spec is authoritative (savedBuckets) —
    // a caller-supplied count could only agree or fail the write
    val buckets = savedBuckets(spark, tbl)
    val cent = spark.read.parquet(s"$path/${name}_centroids")
    assignTo(cent, quantizedVectors(newVectors, idCol, embCol))
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "cell").sortBy("cell")
      .option("path", s"$path/$tbl")
      .saveAsTable(tbl)
  }

  /** Lloyd refinement of a built index: `iterations` rounds of
    * (centroid mean-update, re-assign) — spherical k-means on the
    * quantized grid. The updated centroid of a cell is the
    * element-wise mean of its vectors rounded back to the integer
    * grid: cosine ignores scale, so the mean DIRECTION is the exact
    * maximizer of the cell's summed cosine for a fixed assignment,
    * and the follow-up argmax re-assignment can only improve the
    * objective further (monotone up to the ≤0.5-per-component grid
    * rounding, spec-bounded). k never grows; a cell left empty by a
    * re-assignment drops out (standard k-means behavior, k shrinks).
    *
    * Cost per iteration, all bounded at any corpus size: one
    * hash-partitioned (cell, dim) sum for the means (n·d rows, d =
    * embedding width), one broadcast-argmax re-assignment (same
    * map-side-collapsing aggregation as [[buildIvf]]). Deterministic:
    * integer sums, one IEEE division + round per component, ties to
    * the smaller cell id.
    */
  def refine(index: IvfIndex, iterations: Int = 1): IvfIndex = {
    require(iterations >= 0, s"iterations must be >= 0: $iterations")
    var cur = index
    var i = 0
    while (i < iterations) {
      val means = cur.assigned
        .select(col("cell"), posexplode(col("qe")))
        .groupBy("cell", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("c"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("pos"),
          expr("cast(round(s / c) as bigint)").as("v")))).as("pv"))
        .select(col("cell").as("c_id"),
          expr("transform(pv, x -> x.v)").as("cqe"))
        .withColumn("cnq", VectorOps.normSq("cqe"))
        .localCheckpoint()
      val e = cur.assigned.select("vec_id", "qe", "nq")
      val cellOf = argmaxCell(
        e.crossJoin(broadcast(means))
          .withColumn("dot", VectorOps.dot("cqe", "qe"))
          .withColumn("cos", VectorOps.cosine("dot", "cnq", "nq")))
      cur = IvfIndex(means, e.join(cellOf, Seq("vec_id"))
        .select("vec_id", "cell", "qe", "nq").localCheckpoint())
      i += 1
    }
    cur
  }

  /** Persist the index: centroids as plain parquet (small, broadcast
    * at probe time); assignments bucketed by CELL so probe joins reuse
    * the write-time partitioning. Bucket metadata lives in the session
    * catalog (shared metastore on a cluster).
    */
  def save(
      spark: SparkSession,
      index: IvfIndex,
      name: String,
      path: String,
      buckets: Int = 8): Unit = {
    index.centroids.write.mode("overwrite")
      .parquet(s"$path/${name}_centroids")
    index.assigned.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "cell").sortBy("cell")
      .option("path", s"$path/${name}_assigned")
      .saveAsTable(s"${name}_assigned")
  }

  /** Load a saved index. The catalog table carries the bucket
    * metadata (exchange-free probes) and is preferred ONLY when its
    * storage location is the `path` being loaded — a stale or foreign
    * same-named table from an earlier save to a different path must
    * not shadow the on-disk index. When the saving session's catalog
    * is gone (new driver, in-memory catalog) or points elsewhere, fall
    * back to the parquet files at `path` — correct results, probe
    * re-shuffles.
    */
  /** True iff the catalog has `tbl` AND its storage location is the
    * `path` in question. Try: tableExists is true for TEMP VIEWS too,
    * but getTableMetadata only consults the external catalog and would
    * throw — any lookup failure means "not our saved table".
    */
  private def catalogMatchesPath(
      spark: SparkSession, tbl: String, path: String): Boolean =
    scala.util.Try {
      spark.catalog.tableExists(tbl) && {
        val loc = spark.sessionState.catalog
          .getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(tbl))
          .location
        val want = new org.apache.hadoop.fs.Path(s"$path/$tbl")
          .toUri.getPath
        new org.apache.hadoop.fs.Path(loc).toUri.getPath == want
      }
    }.getOrElse(false)

  def load(spark: SparkSession, name: String, path: String): IvfIndex = {
    val tbl = s"${name}_assigned"
    val assigned =
      if (catalogMatchesPath(spark, tbl, path)) spark.table(tbl)
      else spark.read.parquet(s"$path/$tbl")
    IvfIndex(
      spark.read.parquet(s"$path/${name}_centroids"), assigned)
  }

  /** Probe: each query vector is assigned to its `nprobe` nearest
    * cells (broadcast centroids — no shuffle), then one cell equi-join
    * against the assignment table scores candidates with the codegen'd
    * exact dot product; min(struct(-dot, id)) keeps the best hit
    * (ties to the smallest id, batch rank parity).
    *
    * Output: <queryIdCol>, n_cell_mates, best_dot, best_neighbor.
    */
  def query(
      index: IvfIndex,
      queries: DataFrame,
      queryIdCol: String = "query_id",
      embCol: String = "embedding",
      nprobe: Int = 1): DataFrame = {
    val q = queries
      .withColumn("qqe", VectorOps.quantize(embCol))
      .withColumn("qnq", VectorOps.normSq("qqe"))
      .select(col(queryIdCol), col("qqe"), col("qnq"))
    val qCells = q.crossJoin(broadcast(index.centroids))
      .withColumn("dot", VectorOps.dot("cqe", "qqe"))
      .withColumn("cos", VectorOps.cosine("dot", "cnq", "qnq"))
      // rank by the SAME negated-coalesced key as argmaxCell: plain
      // `cos.desc` would rank NaN FIRST (Spark sorts NaN largest), so
      // a zero-norm (NaN-cosine) centroid would be probed first here
      // but last by argmaxCell — key NaN/null to the +Inf side, last
      // under ascending
      .withColumn("rn", row_number().over(
        Window.partitionBy(queryIdCol).orderBy(
          coalesce(-col("cos"), lit(Double.PositiveInfinity)).asc,
          col("c_id").asc)))
      .where(col("rn") <= nprobe)
      .select(col(queryIdCol), col("c_id").as("cell"))
    val probed = index.assigned
      .join(q.join(qCells, Seq(queryIdCol)), Seq("cell"))
      .withColumn("dot", VectorOps.dot("qqe", "qe"))
    probed.groupBy(queryIdCol)
      .agg(count(lit(1)).as("n_cell_mates"),
        min(struct((-col("dot")).as("nd"), col("vec_id").as("id")))
          .as("m"))
      .select(col(queryIdCol), col("n_cell_mates"),
        (-col("m.nd")).as("best_dot"), col("m.id").as("best_neighbor"))
  }

  // ---------------------------------------------------------------
  // Persistent IVF-PQ: the memory-bounded index — the corpus side of
  // every probe is the CODED table (cell + m packed bytes per vector,
  // never the embeddings), bucketed by cell so repeated probes reuse
  // the write-time partitioning exactly like the full-precision index.
  // ---------------------------------------------------------------

  /** centroids (c_id, cqe, cnq); codebook (j, cidx, cvec, cnorm);
    * coded (vec_id, cell, codes array — [[ProductQuantizer.packCodes]]
    * layout); (m, subLen) pinned at build/load time so probes and
    * appends are lazy plan-builders that cannot disagree with the
    * build geometry. `residual` marks an IVFADC index (codes are
    * residuals against the coarse centroids — see
    * [[ProductQuantizer.buildIvfPqResidual]]); it is PERSISTED with
    * the codebook and recovered by [[loadPq]], so probes and appends
    * route through the residual math automatically — a residual index
    * can never be silently probed with the plain distance tables.
    */
  case class IvfPqIndex(
      centroids: DataFrame,
      codebook: DataFrame,
      coded: DataFrame,
      m: Int,
      subLen: Int,
      residual: Boolean = false)

  /** Build the persistent form of the shared
    * [[ProductQuantizer.buildIvfPq]] chain — the chain's own pinned
    * centroid sample is stored, so the exposed centroids are BY
    * CONSTRUCTION the ones the cells were assigned against (no second
    * sample evaluation to drift, no second corpus scan). Input needs
    * (vec_id, qe, nq).
    */
  def buildIvfPqIndex(
      e: DataFrame,
      kCentroids: Int,
      m: Int = 8,
      subLen: Int = 8,
      kCodes: Int = 16): IvfPqIndex = {
    val chain = ProductQuantizer.buildIvfPq(e, kCentroids, m, subLen,
      kCodes)
    IvfPqIndex(
      chain.cent,
      chain.cb,
      ProductQuantizer.packCodes(chain.codes)
        .join(chain.cellOf, Seq("vec_id"))
        .select("vec_id", "cell", "codes"),
      m, subLen)
  }

  /** Persistent form of [[ProductQuantizer.buildIvfPqResidual]] —
    * IVFADC: same artifacts and layout as [[buildIvfPqIndex]], but the
    * packed codes quantize each vector's RESIDUAL against its coarse
    * centroid. [[savePq]]/[[loadPq]] carry the flag, and
    * [[queryPq]]/[[appendPq]] route through the per-(query, probed
    * cell) residual tables when it is set.
    */
  def buildIvfPqResidualIndex(
      e: DataFrame,
      kCentroids: Int,
      m: Int = 8,
      subLen: Int = 8,
      kCodes: Int = 16): IvfPqIndex = {
    val chain = ProductQuantizer.buildIvfPqResidual(e, kCentroids, m,
      subLen, kCodes)
    IvfPqIndex(
      chain.cent,
      chain.cb,
      ProductQuantizer.packCodes(chain.codes)
        .join(chain.cellOf, Seq("vec_id"))
        .select("vec_id", "cell", "codes"),
      m, subLen, residual = true)
  }

  /** Persist: centroids + codebook as plain parquet (both broadcast
    * at probe time), the coded table bucketed by CELL (the [[save]]
    * layout — repeated probe joins reuse the write-time partitioning;
    * same catalog-vs-path shadowing rules as [[load]]).
    */
  def savePq(
      spark: SparkSession,
      index: IvfPqIndex,
      name: String,
      path: String,
      buckets: Int = 8): Unit = {
    index.centroids.write.mode("overwrite")
      .parquet(s"$path/${name}_centroids")
    // the residual flag rides with the codebook (a constant column on
    // bounded rows) so loadPq recovers it without a separate artifact
    index.codebook.withColumn("residual", lit(index.residual))
      .write.mode("overwrite")
      .parquet(s"$path/${name}_codebook")
    index.coded.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "cell").sortBy("cell")
      .option("path", s"$path/${name}_coded")
      .saveAsTable(s"${name}_coded")
  }

  def loadPq(spark: SparkSession, name: String, path: String)
      : IvfPqIndex = {
    val tbl = s"${name}_coded"
    val coded =
      if (catalogMatchesPath(spark, tbl, path)) spark.table(tbl)
      else spark.read.parquet(s"$path/$tbl")
    val cbRaw = spark.read.parquet(s"$path/${name}_codebook")
    val (m, subLen) = pqGeometry(cbRaw, s"loadPq($name, $path)")
    // pre-flag artifacts (no residual column) are plain indexes
    val residual = cbRaw.columns.contains("residual") &&
      cbRaw.select("residual").head().getBoolean(0)
    IvfPqIndex(
      spark.read.parquet(s"$path/${name}_centroids"),
      cbRaw.drop("residual"), coded, m, subLen, residual)
  }

  /** (m, subLen) read off a codebook ONCE (at load time — built
    * indexes carry the build constants), with a loud error instead of
    * an opaque NPE when the codebook is empty.
    */
  private def pqGeometry(
      codebook: DataFrame, what: String): (Int, Int) = {
    val geom = codebook
      .agg(max("j").as("mj"), max(size(col("cvec"))).as("sl")).head()
    require(!geom.isNullAt(0) && !geom.isNullAt(1),
      s"$what: codebook is empty — the index was built over an empty " +
        "corpus or the _codebook parquet is missing/empty")
    (geom.getInt(0) + 1, geom.getInt(1))
  }

  /** Code arrivals against an EXISTING index's centroids and codebook
    * — shared by [[appendPq]] and [[appendSavedPq]] so the incremental
    * path cannot drift from the build path.
    */
  private def codeAgainst(
      index: IvfPqIndex,
      newVectors: DataFrame,
      idCol: String,
      embCol: String): DataFrame = {
    val e = quantizedVectors(newVectors, idCol, embCol)
    val cellOf = assignTo(index.centroids, e).select("vec_id", "cell")
    // a residual index codes the arrival's residual against its
    // (existing) centroid — the same relation the build encoded
    val base =
      if (index.residual)
        ProductQuantizer.residuals(
          e.select("vec_id", "qe"), cellOf, index.centroids)
      else e.select("vec_id", "qe")
    val codes = ProductQuantizer.encode(
      base, index.codebook, index.m, index.subLen)
    ProductQuantizer.packCodes(codes)
      .join(cellOf, Seq("vec_id"))
      .select("vec_id", "cell", "codes")
  }

  /** Incremental PQ append: arrivals are assigned to the EXISTING
    * centroids and coded against the EXISTING codebooks (no drift —
    * the [[append]] contract; rebuild on distribution shift, same
    * wording as the cluster-assign merge-on-refresh contract).
    */
  def appendPq(
      index: IvfPqIndex,
      newVectors: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): IvfPqIndex =
    // copy, not positional construction: the returned index must keep
    // carrying `residual` (and any future flag) — dropping it would
    // route later probes through the plain distance tables against
    // residual codes
    index.copy(coded = index.coded.unionByName(
      codeAgainst(index, newVectors, idCol, embCol)))

  /** [[appendPq]] against a SAVED index — appends to the bucketed
    * coded table so later probes stay exchange-free; a catalog miss
    * fails loudly (the [[appendSaved]] contract).
    */
  def appendSavedPq(
      spark: SparkSession,
      name: String,
      path: String,
      newVectors: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Unit = {
    val tbl = s"${name}_coded"
    require(catalogMatchesPath(spark, tbl, path),
      s"appendSavedPq: catalog table $tbl missing or not at $path — " +
        "a bucketed append needs the saving catalog entry; rebuild " +
        "(or re-save) the index instead")
    // the saved table's own bucket spec is authoritative — a
    // caller-supplied count could only agree or fail the write
    val buckets = savedBuckets(spark, tbl)
    codeAgainst(loadPq(spark, name, path), newVectors, idCol, embCol)
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "cell").sortBy("cell")
      .option("path", s"$path/$tbl")
      .saveAsTable(tbl)
  }

  /** Bucket count of a saved assignment/coded table, read from its
    * catalog metadata — the caller-supplied count it replaces could
    * only agree with it or fail the append at write time.
    */
  private def savedBuckets(spark: SparkSession, tbl: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .bucketSpec
      .map(_.numBuckets)
      .getOrElse(throw new IllegalArgumentException(
        s"$tbl exists but carries no bucket spec — not a saved index " +
          "table"))

  /** ADC probe of an IVF-PQ index: queries assign to their `nprobe`
    * nearest cells (broadcast centroids), candidates come from the
    * cell equi-join against the bucketed coded table (exchange-free
    * on the corpus side), each candidate unpacks its m codes and sums
    * the broadcast per-query distance table. Geometry (m, subLen) is carried on
    * the index (pinned at build, re-derived once at load), so a probe
    * is a lazy plan-builder that cannot run with the wrong constants.
    *
    * Output: <queryIdCol>, n_cell_mates, best_adist, best_id.
    */
  def queryPq(
      index: IvfPqIndex,
      queries: DataFrame,
      queryIdCol: String = "query_id",
      embCol: String = "embedding",
      nprobe: Int = 1): DataFrame = {
    val (m, subLen) = (index.m, index.subLen)
    val q = queries
      .withColumn("qe", VectorOps.quantize(embCol))
      .withColumn("qnq", VectorOps.normSq("qe"))
      .select(col(queryIdCol), col("qe"), col("qnq"))
    val qCells = q.crossJoin(broadcast(index.centroids))
      .withColumn("dot", VectorOps.dot("cqe", "qe"))
      .withColumn("cos", VectorOps.cosine("dot", "cnq", "qnq"))
      // rank by the SAME negated-coalesced key as argmaxCell: plain
      // `cos.desc` would rank NaN FIRST (Spark sorts NaN largest), so
      // a zero-norm (NaN-cosine) centroid would be probed first here
      // but last by argmaxCell — key NaN/null to the +Inf side, last
      // under ascending
      .withColumn("rn", row_number().over(
        Window.partitionBy(queryIdCol).orderBy(
          coalesce(-col("cos"), lit(Double.PositiveInfinity)).asc,
          col("c_id").asc)))
      .where(col("rn") <= nprobe)
      .select(col(queryIdCol), col("c_id").as("cell"))
    val scored =
      if (index.residual) {
        // IVFADC probe: the query's residual depends on the probed
        // centroid, so the distance table keys on (query, cell) —
        // computed by the SAME ProductQuantizer.adcScoreResidual the
        // batch queries use (no drift), over the unpacked codes
        val qCellsR = ProductQuantizer.queryResiduals(
          qCells.withColumnRenamed(queryIdCol, "query_id"),
          index.centroids,
          q.select(col(queryIdCol).as("query_id"), col("qe")))
        val cand = index.coded.join(broadcast(qCells), Seq("cell"))
          .select(col(queryIdCol).as("query_id"), col("cell"),
            col("vec_id"))
        // unpack codes of the PROBED CELLS only — unpacking the full
        // coded table would shuffle n·m code rows per probe, breaking
        // the probed-cells-only contract the plain branch keeps; the
        // distinct cell list keeps each coded row joining at most
        // once, so (vec_id, j) stays unique for adcScoreResidual
        val unpacked = index.coded
          .join(broadcast(qCells.select("cell").distinct()), Seq("cell"))
          .select(col("vec_id"),
            posexplode(col("codes")).as(Seq("j", "code")))
        ProductQuantizer.adcScoreResidual(
            qCellsR, cand, unpacked, index.codebook, m, subLen)
          .select(col("query_id").as(queryIdCol), col("vec_id"),
            col("adist"))
      } else {
        val qd = ProductQuantizer.qdTable(
          q.select(col(queryIdCol), col("qe")), index.codebook, m,
          subLen, queryIdCol)
        index.coded.join(broadcast(qCells), Seq("cell"))
          .select(col(queryIdCol), col("vec_id"),
            posexplode(col("codes")).as(Seq("j", "code")))
          .join(broadcast(qd), Seq(queryIdCol, "j", "code"))
          .groupBy(col(queryIdCol), col("vec_id"))
          .agg(sum("qdist").as("adist"))
      }
    scored
      .groupBy(queryIdCol)
      .agg(count(lit(1)).as("n_cell_mates"),
        min(struct(col("adist").as("ad"), col("vec_id").as("id")))
          .as("m"))
      .select(col(queryIdCol), col("n_cell_mates"),
        col("m.ad").as("best_adist"), col("m.id").as("best_id"))
  }

  // ----- SQ8 (byte-per-dimension) index ---------------------------------

  /** Persistent IVF-SQ8 index (the q_sim_ivfsq8 shape): coarse cells
    * from the shared sampled quantizer, SQ8 byte-per-dimension codes
    * inside — 4x compression with near-exact recall, no codebook
    * training, same exchange-free bucketed probe layout as the PQ
    * index.
    */
  final case class Sq8Index(
      centroids: DataFrame, // c_id, cqe, cnq
      stats: DataFrame, // ONE row: mns, mxs (per-dim long arrays)
      coded: DataFrame) // vec_id, cell, code

  def buildSq8Index(
      vectors: DataFrame,
      kCentroids: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Sq8Index = {
    val e = quantizedVectors(vectors, idCol, embCol)
    val cent = sampleCentroids(e, kCentroids)
    val cellOf = assignTo(cent, e).select("vec_id", "cell")
    val st = ScalarQuantizer.stats(e)
    Sq8Index(cent, st,
      ScalarQuantizer.encode(e.select("vec_id", "qe"), st)
        .join(cellOf, Seq("vec_id"))
        .select("vec_id", "cell", "code"))
  }

  /** Persist: centroids + the 1-row stats grid as plain parquet, the
    * coded table bucketed by CELL (the [[savePq]] layout and catalog
    * rules).
    */
  def saveSq8(
      spark: SparkSession,
      index: Sq8Index,
      name: String,
      path: String,
      buckets: Int = 8): Unit = {
    index.centroids.write.mode("overwrite")
      .parquet(s"$path/${name}_centroids")
    index.stats.write.mode("overwrite")
      .parquet(s"$path/${name}_sq8stats")
    index.coded.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "cell").sortBy("cell")
      .option("path", s"$path/${name}_coded")
      .saveAsTable(s"${name}_coded")
  }

  def loadSq8(spark: SparkSession, name: String, path: String)
      : Sq8Index = {
    val tbl = s"${name}_coded"
    val coded =
      if (catalogMatchesPath(spark, tbl, path)) spark.table(tbl)
      else spark.read.parquet(s"$path/$tbl")
    val stats = spark.read.parquet(s"$path/${name}_sq8stats")
    require(stats.count() == 1,
      s"loadSq8($name, $path): the _sq8stats artifact must hold " +
        "exactly one (mns, mxs) row")
    Sq8Index(
      spark.read.parquet(s"$path/${name}_centroids"), stats, coded)
  }

  /** Incremental SQ8 append: arrivals assign to the EXISTING centroids
    * and code against the EXISTING frozen grid (out-of-grid values
    * clamp to the byte range — see ScalarQuantizer.encode). Same
    * no-drift / rebuild-on-distribution-shift contract as [[appendPq]].
    */
  def appendSq8(
      index: Sq8Index,
      newVectors: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Sq8Index =
    index.copy(coded = index.coded.unionByName(
      sq8CodeAgainst(index, newVectors, idCol, embCol)))

  /** [[appendSq8]] against a SAVED index — appends to the bucketed
    * coded table; a catalog miss fails loudly (the [[appendSavedPq]]
    * contract).
    */
  def appendSavedSq8(
      spark: SparkSession,
      name: String,
      path: String,
      newVectors: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Unit = {
    val tbl = s"${name}_coded"
    require(catalogMatchesPath(spark, tbl, path),
      s"appendSavedSq8: catalog table $tbl missing or not at $path — " +
        "a bucketed append needs the saving catalog entry; rebuild " +
        "(or re-save) the index instead")
    val buckets = savedBuckets(spark, tbl)
    sq8CodeAgainst(loadSq8(spark, name, path), newVectors, idCol, embCol)
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "cell").sortBy("cell")
      .option("path", s"$path/$tbl")
      .saveAsTable(tbl)
  }

  /** Code arrivals against an EXISTING SQ8 index — one definition for
    * [[appendSq8]] and [[appendSavedSq8]], mirroring [[codeAgainst]].
    */
  private def sq8CodeAgainst(
      index: Sq8Index,
      newVectors: DataFrame,
      idCol: String,
      embCol: String): DataFrame = {
    val e = quantizedVectors(newVectors, idCol, embCol)
    val cellOf = assignTo(index.centroids, e).select("vec_id", "cell")
    ScalarQuantizer.encode(e.select("vec_id", "qe"), index.stats)
      .join(cellOf, Seq("vec_id"))
      .select("vec_id", "cell", "code")
  }

  /** SQ8 probe: queries take their `nprobe` nearest cells (the
    * [[queryPq]] ranked-probe discipline, NaN keyed last), encode
    * against the index grid, and score candidates from the cell
    * equi-join with the exact integer squared-L2 on codes.
    *
    * Output: <queryIdCol>, n_cell_mates, best_sqdist, best_id.
    */
  def querySq8(
      index: Sq8Index,
      queries: DataFrame,
      queryIdCol: String = "query_id",
      embCol: String = "embedding",
      nprobe: Int = 1): DataFrame = {
    val q = queries
      .withColumn("qe", VectorOps.quantize(embCol))
      .withColumn("qnq", VectorOps.normSq("qe"))
      .select(col(queryIdCol), col("qe"), col("qnq"))
    val qCells = q.crossJoin(broadcast(index.centroids))
      .withColumn("dot", VectorOps.dot("cqe", "qe"))
      .withColumn("cos", VectorOps.cosine("dot", "cnq", "qnq"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(queryIdCol).orderBy(
          coalesce(-col("cos"), lit(Double.PositiveInfinity)).asc,
          col("c_id").asc)))
      .where(col("rn") <= nprobe)
      .select(col(queryIdCol), col("c_id").as("cell"))
    val qCodes = ScalarQuantizer
      .encode(q.select(col(queryIdCol), col("qe")), index.stats)
      .select(col(queryIdCol), col("code").as("qcode"))
    index.coded.join(broadcast(qCells), Seq("cell"))
      .join(broadcast(qCodes), Seq(queryIdCol))
      .withColumn("sqdist", ScalarQuantizer.sqDist("code", "qcode"))
      .groupBy(queryIdCol)
      .agg(count(lit(1)).as("n_cell_mates"),
        min(struct(col("sqdist").as("sd"), col("vec_id").as("id")))
          .as("m"))
      .select(col(queryIdCol), col("n_cell_mates"),
        col("m.sd").as("best_sqdist"), col("m.id").as("best_id"))
  }
}
