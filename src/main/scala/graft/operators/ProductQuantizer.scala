package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou/Douze/Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) over the integer-quantized
  * embedding representation (VectorOps.quantize): split each vector
  * into `m` subvectors, code each against a per-subspace codebook, and
  * score queries by asymmetric distance computation (ADC) — the
  * memory-bounded scale path for ANN (m bytes per vector instead of
  * the full embedding; the reference's similarity surface is
  * brute-force fingerprints, similarity.py:478-501, which caps at
  * RAM-resident corpora).
  *
  * Codebooks here are SAMPLED, not Lloyd-trained — the same
  * deterministic md5-ordered draw as the IVF coarse quantizer
  * (VectorIndex.sampleCentroids), so every code and every ADC score is
  * reproducible on any engine with md5, and the DuckDB oracle matches
  * bit-for-bit: all distances are exact 64-bit integer arithmetic
  * (‖a−b‖² = na + nb − 2·a·b on the quantized grid). [[refineCodebook]]
  * runs Lloyd rounds on the codebooks with the same determinism.
  *
  * Scale shape: the codebook is m × k rows (bounded constants —
  * broadcast); encoding is linear in corpus × m with a map-side
  * collapsing argmin (no window); ADC is one broadcast equi-join on
  * (subspace, code) followed by a sum aggregation — candidates never
  * pair corpus × corpus.
  */
object ProductQuantizer {

  /** Per-subspace sampled codebook over `e` = (vec_id, qe): the first
    * `k` vectors in (md5(vec_id), vec_id) order contribute their
    * subvectors. Output: (j, cidx, cvec, cnorm) — m·k rows, broadcast
    * wherever joined. `cidx` is the rank in the SAME md5 order, so the
    * oracle recomputes identical codes.
    */
  def codebook(e: DataFrame, m: Int, subLen: Int, k: Int): DataFrame = {
    val ord = Seq(col("__h"), col("vec_id"))
    // the ONE md5-ordered draw (VectorIndex.orderedSample — shared
    // with the IVF centroid sample so the two selection surfaces
    // cannot drift from the oracles' ORDER BY md5 LIMIT k CTEs);
    // k-row single-partition window for the rank — bounded by the
    // codebook size, never by the corpus
    val sample = VectorIndex.orderedSample(e, k)
      .withColumn("cidx", row_number().over(Window.orderBy(ord: _*)) - 1)
    sample
      .select(col("cidx"), explode(expr(s"sequence(0, ${m - 1})")).as("j"),
        col("qe"))
      .select(col("j"), col("cidx"),
        expr(s"slice(qe, j * $subLen + 1, $subLen)").as("cvec"))
      .withColumn("cnorm", VectorOps.normSq("cvec"))
  }

  /** PQ-encode `corpus` = (idCol, qe) against a codebook: one row per
    * (id, subspace) with the argmin code — exact integer distances,
    * ties to the smaller code index, collapsed map-side
    * (min(struct(dist, cidx))) like VectorIndex.argmaxCell.
    */
  def encode(
      corpus: DataFrame,
      cb: DataFrame,
      m: Int,
      subLen: Int,
      idCol: String = "vec_id"): DataFrame =
    corpus
      .select(col(idCol), explode(expr(s"sequence(0, ${m - 1})")).as("j"),
        col("qe"))
      .select(col(idCol), col("j"),
        expr(s"slice(qe, j * $subLen + 1, $subLen)").as("svec"))
      .withColumn("snorm", VectorOps.normSq("svec"))
      .join(broadcast(cb), Seq("j"))
      .withColumn("dist",
        col("snorm") + col("cnorm") - lit(2L) * VectorOps.dot("svec", "cvec"))
      .groupBy(col(idCol), col("j"))
      .agg(min(struct(col("dist"), col("cidx"))).as("m"))
      .select(col(idCol), col("j"), col("m.cidx").as("code"))

  /** One Lloyd step on the codebooks for a FIXED encoding: each
    * (subspace, code) centroid moves to the element-wise mean of its
    * assigned subvectors, rounded back to the integer grid — the PQ
    * analog of [[VectorIndex.refine]], with the same determinism
    * (integer sums, ONE IEEE division + round per component). For the
    * fixed assignment the mean minimizes the subspace's summed squared
    * distance exactly, so a refine + re-encode round can only lower
    * total quantization error up to the ≤0.5-per-component grid
    * rounding. Codes left without members drop out (k shrinks —
    * standard k-means). Re-[[encode]] against the result to complete
    * the iteration.
    */
  def refineCodebook(
      corpus: DataFrame,
      codes: DataFrame,
      m: Int,
      subLen: Int,
      idCol: String = "vec_id"): DataFrame =
    corpus
      .select(col(idCol), explode(expr(s"sequence(0, ${m - 1})")).as("j"),
        col("qe"))
      .select(col(idCol), col("j"),
        expr(s"slice(qe, j * $subLen + 1, $subLen)").as("svec"))
      .join(codes, Seq(idCol, "j"))
      .select(col("j"), col("code"), posexplode(col("svec")))
      .groupBy("j", "code", "pos")
      .agg(sum("col").as("s"), count(lit(1)).as("c"))
      .groupBy("j", "code")
      .agg(array_sort(collect_list(struct(col("pos"),
        expr("cast(round(s / c) as bigint)").as("v")))).as("pv"))
      .select(col("j"), col("code").as("cidx"),
        expr("transform(pv, x -> x.v)").as("cvec"))
      .withColumn("cnorm", VectorOps.normSq("cvec"))

  /** The per-query distance table (queryIdCol, j, code, qdist) — one
    * row per (query, subspace, codebook entry), q × m × k rows total:
    * queries are a small probe set, so the table broadcasts.
    */
  private[operators] def qdTable(
      queries: DataFrame,
      cb: DataFrame,
      m: Int,
      subLen: Int,
      queryIdCol: String): DataFrame =
    queries
      .select(col(queryIdCol), explode(expr(s"sequence(0, ${m - 1})")).as("j"),
        col("qe"))
      .select(col(queryIdCol), col("j"),
        expr(s"slice(qe, j * $subLen + 1, $subLen)").as("qvec"))
      .withColumn("qnorm", VectorOps.normSq("qvec"))
      .join(broadcast(cb), Seq("j"))
      .withColumn("qdist",
        col("qnorm") + col("cnorm") - lit(2L) * VectorOps.dot("qvec", "cvec"))
      .select(col(queryIdCol), col("j"), col("cidx").as("code"),
        col("qdist"))

  /** ADC scores of every (query, corpus vector) pair: the query's
    * per-(subspace, code) distance table equi-joins the corpus codes
    * and sums per pair. Output: (queryIdCol, idCol, adist) with adist
    * = Σ_j ‖q_j − c(x_j)‖², an exact integer.
    */
  def adcScore(
      queries: DataFrame, // queryIdCol, qe
      codes: DataFrame, // idCol, j, code
      cb: DataFrame,
      m: Int,
      subLen: Int,
      idCol: String = "vec_id",
      queryIdCol: String = "query_id"): DataFrame =
    codes.join(broadcast(qdTable(queries, cb, m, subLen, queryIdCol)),
        Seq("j", "code"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum("qdist").as("adist"))

  /** Pack per-(id, subspace) code rows into one row per id with the m
    * codes as a j-ordered array — the storage/probe layout of the
    * coded corpus (VectorIndex.savePq).
    */
  def packCodes(codes: DataFrame, idCol: String = "vec_id"): DataFrame =
    codes
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("j"), col("code"))))
        .as("jc"))
      .select(col(idCol), expr("transform(jc, x -> x.code)").as("codes"))

  /** The IVF-PQ chain assembled ONCE — coarse-cell assignment +
    * codebook + codes over one (vec_id, qe, nq) relation — shared by
    * the IVF-PQ queries, so a change to the composition (assignment
    * expression, refine step, geometry) lands everywhere or nowhere.
    * cent, cellOf, and cb are localCheckpointed: each feeds at least
    * two consumers, and the pinned cent evaluation is what guarantees
    * the EXPOSED centroids are the ones the cells were assigned against
    * (a re-evaluated sample over nondeterministic lineage could
    * silently disagree).
    */
  case class IvfPq(
      cent: DataFrame,
      cellOf: DataFrame,
      cb: DataFrame,
      codes: DataFrame)

  def buildIvfPq(
      e: DataFrame, // vec_id, qe, nq
      kCentroids: Int,
      m: Int = 8,
      subLen: Int = 8,
      kCodes: Int = 16): IvfPq = {
    val base = e.select("vec_id", "qe")
    // cent and cb are INDEPENDENT draws over e (the codebook never
    // reads the centroids in the plain — non-residual — chain), so
    // their eager checkpoints materialize from two driver threads
    // (guide §2.6): same pinned relations, one materialization wave
    // instead of two sequential ones.
    val (cent, cbDf) = Par.concurrently(
      VectorIndex.sampleCentroids(e, kCentroids).localCheckpoint(),
      codebook(base, m, subLen, kCodes).localCheckpoint())
    // lazy checkpoint: single-compute + pinned evaluation still hold
    // (RDD-level cache locks), but the assignment kernel materializes
    // inside its first consumer's job instead of one more sequential
    // driver job per query
    val cellOf = VectorIndex.argmaxCell(
      e.crossJoin(broadcast(cent))
        .withColumn("dot", VectorOps.dot("cqe", "qe"))
        .withColumn("cos", VectorOps.cosine("dot", "cnq", "nq")))
      .localCheckpoint(eager = false)
    IvfPq(cent, cellOf, cbDf, encode(base, cbDf, m, subLen))
  }

  /** Element-wise residuals against the assigned coarse centroid:
    * (vec_id, qe := qe − cqe[cell(vec_id)]). Residuals stay on the
    * integer grid (difference of integers), so every downstream code
    * and ADC score remains exact 64-bit arithmetic. One broadcast join
    * against the bounded centroid table — linear in the corpus.
    */
  def residuals(
      e: DataFrame, // vec_id, qe
      cellOf: DataFrame, // vec_id, cell
      cent: DataFrame): DataFrame = // c_id, cqe, ...
    e.join(cellOf, Seq("vec_id"))
      .join(broadcast(cent.select(col("c_id").as("cell"), col("cqe"))),
        Seq("cell"))
      .select(col("vec_id"),
        zip_with(col("qe"), col("cqe"), (a, b) => a - b).as("qe"))

  /** Query-side twin of [[residuals]] for the IVFADC probe: one row
    * per (query, probed cell) with the query's residual against THAT
    * cell's centroid as `qe` — the exact relation
    * [[adcScoreResidual]]'s `queryCells` input expects. Shared by the
    * batch queries and the persistent-index probe so the residual
    * convention (sign, column names) cannot drift between them; the
    * corpus-side half already routes through [[residuals]].
    */
  def queryResiduals(
      queryCells: DataFrame, // query_id, cell
      cent: DataFrame, // c_id, cqe, ...
      queries: DataFrame): DataFrame = // query_id, qe
    queryCells
      .join(broadcast(cent.select(col("c_id").as("cell"), col("cqe"))),
        Seq("cell"))
      .join(queries.withColumnRenamed("qe", "__pq_qqe"), Seq("query_id"))
      .select(col("query_id"), col("cell"),
        zip_with(col("__pq_qqe"), col("cqe"), (a, b) => a - b).as("qe"))

  /** Residual IVF-PQ — the IVFADC composition of Jégou et al. §V:
    * PQ encodes each vector's RESIDUAL against its coarse centroid
    * (x − c(x)) instead of x itself. Residuals concentrate near the
    * origin, so the same m×k codebook budget spends its resolution on
    * a much smaller ball — the standard recall lift over plain IVF-PQ
    * at identical index size (measured, not assumed: q_sim_recall_
    * residual). Same deterministic md5-ordered codebook draw over the
    * residual relation; cent/cellOf pinned exactly as [[buildIvfPq]].
    * The coded table still costs m bytes/vector; the only extra build
    * work is one broadcast centroid join to form residuals.
    */
  def buildIvfPqResidual(
      e: DataFrame, // vec_id, qe, nq
      kCentroids: Int,
      m: Int = 8,
      subLen: Int = 8,
      kCodes: Int = 16): IvfPq = {
    val cent = VectorIndex.sampleCentroids(e, kCentroids)
      .localCheckpoint()
    val cellOf = VectorIndex.argmaxCell(
      e.crossJoin(broadcast(cent))
        .withColumn("dot", VectorOps.dot("cqe", "qe"))
        .withColumn("cos", VectorOps.cosine("dot", "cnq", "nq")))
      .localCheckpoint()
    val resid = residuals(e.select("vec_id", "qe"), cellOf, cent)
    val cbDf = codebook(residCbBase(resid), m, subLen, kCodes)
      .localCheckpoint()
    IvfPq(cent, cellOf, cbDf, encode(resid, cbDf, m, subLen))
  }

  /** Codebook training base for the residual chain: residuals with
    * non-zero norm. The md5-ordered codebook draw and the coarse
    * centroid draw rank by the SAME key, so the top-kCodes rows of the
    * raw residual relation are sampled centroids — whose own residual
    * is exactly the zero vector (a vector is its own cosine-nearest
    * centroid). Without this filter the "codebook" is kCodes copies of
    * zero, every vector codes identically, and ADC carries no signal.
    */
  def residCbBase(resid: DataFrame): DataFrame =
    resid.where(VectorOps.normSq("qe") > 0)

  /** ADC for the residual composition. Unlike [[adcScoreCandidates]],
    * the query-side distance table depends on the PROBED CELL (the
    * query's residual differs per centroid), so `queryCells` carries
    * one row per (query, probed cell) with the query residual as `qe`,
    * and the table joins on (query, cell, subspace, code) — q × nprobe
    * × m × k rows, still broadcast-bounded. Candidates are cell mates,
    * so each candidate pair's cell is the candidate's OWN cell and the
    * scored ‖r_q − code(r_x)‖² approximates the true ‖q − x‖² with
    * both vectors expressed relative to the same centroid.
    */
  def adcScoreResidual(
      queryCells: DataFrame, // query_id, cell, qe (query residual)
      candidates: DataFrame, // query_id, cell, vec_id
      codes: DataFrame, // vec_id, j, code (residual codes)
      cb: DataFrame,
      m: Int,
      subLen: Int): DataFrame = {
    val qd = queryCells
      .select(col("query_id"), col("cell"),
        explode(expr(s"sequence(0, ${m - 1})")).as("j"), col("qe"))
      .select(col("query_id"), col("cell"), col("j"),
        expr(s"slice(qe, j * $subLen + 1, $subLen)").as("qvec"))
      .withColumn("qnorm", VectorOps.normSq("qvec"))
      .join(broadcast(cb), Seq("j"))
      .withColumn("qdist",
        col("qnorm") + col("cnorm") - lit(2L) * VectorOps.dot("qvec", "cvec"))
      .select(col("query_id"), col("cell"), col("j"),
        col("cidx").as("code"), col("qdist"))
    codes.join(candidates, Seq("vec_id"))
      .join(broadcast(qd), Seq("query_id", "cell", "j", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum("qdist").as("adist"))
  }

  /** ADC restricted to an explicit candidate-pair relation
    * (queryIdCol, idCol) — the IVF-PQ composition: the coarse
    * quantizer supplies the candidates (cell mates), PQ ranks them,
    * so the scored pair count is candidates × m, never corpus ×
    * queries.
    */
  def adcScoreCandidates(
      queries: DataFrame, // queryIdCol, qe
      candidates: DataFrame, // queryIdCol, idCol
      codes: DataFrame, // idCol, j, code
      cb: DataFrame,
      m: Int,
      subLen: Int,
      idCol: String = "vec_id",
      queryIdCol: String = "query_id"): DataFrame =
    codes.join(candidates, Seq(idCol))
      .join(broadcast(qdTable(queries, cb, m, subLen, queryIdCol)),
        Seq(queryIdCol, "j", "code"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum("qdist").as("adist"))
}
