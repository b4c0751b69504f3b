package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.expr

/** Embedding similarity-search primitives (training-data-pipeline
  * extensions: brute-force cosine top-k, sign-LSH bucketed ANN,
  * cosine near-dup).
  *
  * All arithmetic is done on embeddings QUANTIZED to a 1e6 integer grid
  * (exact float→double cast, then round): dot products and norms become
  * exact 64-bit integer math, so rankings and thresholds are bit-identical
  * across engines (Spark vs the DuckDB oracle) — no float-summation-order
  * divergence. Cosine is then derived from the exact integers with IEEE
  * sqrt/division, which is itself deterministic.
  *
  * Everything is array higher-order expressions inside one projection —
  * no UDFs, no shuffle for sketching; the only shuffles are the bucket
  * equi-joins (the 100 TB path) and final aggregations. The reference
  * analog is fingerprint Tanimoto similarity (similarity.py:478-501);
  * at cluster scale the ±1 hyperplanes would be a broadcast literal —
  * here they are md5-derived so the oracle can recompute them.
  */
object VectorOps {

  /** Quantize a float-array column to bigints on a `scale` grid. */
  def quantize(embCol: String, scale: Long = 1000000L): Column =
    expr(s"transform($embCol, x -> " +
      s"cast(round(cast(x as double) * $scale) as bigint))")

  /** Exact squared L2 norm of a quantized vector (vec_dot with itself —
    * one codegen'd loop instead of an interpreted HOF aggregate).
    */
  def normSq(qCol: String): Column = dot(qCol, qCol)

  /** Exact integer dot product of two quantized vector columns.
    *
    * Hot path of every similarity query, so it builds the native
    * codegen'd VecDot expression DIRECTLY (no function-registry or
    * active-session coupling — the Column resolves against whichever
    * DataFrame it is used on) — same exact 64-bit integer arithmetic
    * as the array-HOF form, so rankings, thresholds, and the DuckDB
    * oracles are unchanged.
    */
  def dot(a: String, b: String): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.expressions.VecDot(
      ColumnBridge.expression(expr(a)),
      ColumnBridge.expression(expr(b))))
  }

  /** Cosine from an exact dot and two exact squared norms.
    *
    * `try_divide`, not `/`: under ANSI mode (Spark 4 default) a
    * zero-norm vector would make plain division THROW and kill the
    * whole job; try_divide yields NULL, which every consumer already
    * ranks/filters last — argmaxCell and the probe windows key through
    * coalesce(-cos, +Inf), thresholds (`cos >= t`) drop NULL — and
    * which is exactly what the DuckDB oracles compute (DuckDB division
    * by zero is NULL), so both engines agree: a degenerate vector is
    * never anyone's best match.
    */
  def cosine(dotCol: String, naCol: String, nbCol: String): Column =
    expr(s"try_divide($dotCol, sqrt(cast($naCol as double)) * " +
      s"sqrt(cast($nbCol as double)))")

  /** `bits`-bit sign-LSH sketch of a quantized vector: bit p is set iff
    * the dot with pseudo-random ±1 hyperplane p (component j = parity of
    * hash64(p:j)) is positive. One projection, no shuffle.
    *
    * The plane signs are CONSTANTS, so they are computed driver-side
    * (same md5 math as the SQL hash64 — bit-identical to the DuckDB
    * oracle's recomputation) and embedded as a literal 2-D array: the
    * per-row work is pure integer arithmetic, ~500 md5 calls per row
    * cheaper than hashing inside the expression.
    */
  def signSketch(qCol: String, bits: Int, dims: Int = 64): Column = {
    val signs: Seq[Seq[Long]] = (0 until bits).map { p =>
      (1 to dims).map { j =>
        (hash64Scala(s"$p:$j") & 1L) * 2L - 1L
      }
    }
    val lit2d = signs
      .map(row => row.mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    expr(
      s"aggregate(sequence(0, ${bits - 1}), cast(0 as bigint), (acc, p) -> " +
        s"acc + if(aggregate(sequence(1, size($qCol)), cast(0 as bigint), " +
        s"(a, j) -> a + element_at(element_at($lit2d, p + 1), j) " +
        s"* element_at($qCol, j)) > 0, " +
        "shiftleft(cast(1 as bigint), p), cast(0 as bigint)))")
  }

  /** Banded LSH keys from a `bands * bitsPerBand`-bit sign sketch —
    * the embedding analog of TextOps.bandKey's minhash banding. Band i
    * owns sketch bits [i*r, (i+1)*r); its key is offset by i*2^r so keys
    * from different bands can never collide in one equi-join column.
    * Two vectors are candidates iff they share AT LEAST ONE band key,
    * so candidate recall is 1-(1-p^r)^b for per-bit agreement p instead
    * of the all-or-nothing p^(b*r) of a single monolithic bucket.
    *
    * Scale rule (see suggestedBandBits): per-band bucket count 2^r must
    * GROW with table size n — with 2^r ≈ n/targetBucket, expected
    * same-bucket pairs per band are ~n*targetBucket/2, i.e. linear in n,
    * where any fixed bucket count degrades to ~(n/2^r)^2 quadratic.
    */
  def bandKeys(sketchCol: String, bands: Int, bitsPerBand: Int): Column = {
    require(bands * bitsPerBand <= 60,
      s"bands*bitsPerBand must fit the 60-bit sketch: $bands*$bitsPerBand")
    val width = 1L << bitsPerBand
    expr(s"transform(sequence(0, ${bands - 1}), i -> " +
      s"i * ${width}L + (shiftright($sketchCol, cast(i * $bitsPerBand " +
      s"as int)) & ${width - 1}L))")
  }

  /** IVF coarse-quantizer size k from the corpus row count: k ≈ √n,
    * clamped to [2, cap]. Work per corpus vector is O(k) (broadcast
    * centroid argmax), so total assignment work is O(n·√n) until the
    * cap and exactly linear past it, and the broadcast centroid table
    * is bounded by cap (4096 × 64-dim bigint ≈ 2 MB) at ANY corpus
    * size — unlike a stride-derived count, which grows linearly with n
    * and turns the broadcast assignment quadratic (the r5 fixed-bucket
    * LSH defect class, in reverse). √n balances the two probe-side
    * costs: centroid scan O(k) vs cell scan O(n/k).
    */
  def suggestedCentroids(n: Long, cap: Int = 4096): Int = {
    val raw = math.ceil(math.sqrt(math.max(1.0, n.toDouble))).toInt
    math.min(cap, math.max(2, raw))
  }

  /** Bits per band r sized from the table: 2^r ≈ n / targetBucket
    * buckets per band, clamped to [4, 15] (4 bands x 15 bits fits the
    * 60-bit sketch). At n=500 this gives 4; at 1e9 rows it gives 15 —
    * at genuine 100 TB scale widen the sketch column to multiple
    * bigints rather than capping recall.
    */
  def suggestedBandBits(n: Long, targetBucket: Int = 64): Int = {
    val raw = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0))
    math.min(15, math.max(4, raw.toInt))
  }

  /** Unnormalized Walsh-Hadamard rotation of a quantized vector column:
    * y_i = Σ_j (−1)^popcount(i AND j) · x_j (natural ordering), for
    * power-of-two d. H·Hᵀ = d·I, so ‖Hx − Hy‖² = d·‖x − y‖² EXACTLY on
    * the integer grid — every L2 ranking, ties included, is preserved
    * while each output coordinate mixes ALL input coordinates. This is
    * the rotation-before-PQ preprocessing of the OPQ family (Ge/He/
    * Ke/Sun, "Optimized Product Quantization", CVPR 2013 §2; FAISS
    * ships it as the random-rotation pretransform) in its
    * deterministic, data-independent form: a trained OPQ rotation
    * needs a model artifact, where the Walsh rotation spreads
    * per-subspace energy with no training and the DuckDB oracle
    * recomputes it bit-for-bit. O(d²) expression — the oracle-twin
    * form; the hot path is [[hadamardCompiled]] (bit-parity pinned in
    * RotationSpec). Magnitude note: components grow by at most ×d, so
    * the 1e6-grid values stay far inside Long range.
    */
  def hadamard(qCol: String, d: Int): Column = {
    require(d > 0 && (d & (d - 1)) == 0, s"dim must be a power of two: $d")
    expr(s"transform(sequence(0, ${d - 1}), __graft_i -> " +
      s"aggregate(sequence(0, ${d - 1}), cast(0 as bigint), " +
      "(__graft_acc, __graft_j) -> __graft_acc + " +
      "if(bit_count(__graft_i & __graft_j) % 2 = 0, " +
      s"element_at($qCol, cast(__graft_j + 1 as int)), " +
      s"-element_at($qCol, cast(__graft_j + 1 as int)))))")
  }

  /** Compiled fast path for [[hadamard]]: the in-place FWHT butterfly,
    * O(d log d) instead of the expression's O(d²) — natural ordering,
    * so the outputs are bit-identical (RotationSpec pins parity).
    * Null rows pass through as null; a wrong-length vector fails
    * loudly rather than silently rotating garbage.
    */
  def hadamardCompiled(d: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(d > 0 && (d & (d - 1)) == 0, s"dim must be a power of two: $d")
    org.apache.spark.sql.functions.udf { (xs: Seq[Long]) =>
      if (xs == null) null
      else {
        require(xs.length == d,
          s"hadamardCompiled($d): got a ${xs.length}-dim vector")
        val a = xs.toArray
        var len = 1
        while (len < d) {
          var i = 0
          while (i < d) {
            var j = i
            while (j < i + len) {
              val u = a(j); val v = a(j + len)
              a(j) = u + v
              a(j + len) = u - v
              j += 1
            }
            i += 2 * len
          }
          len <<= 1
        }
        a.toSeq
      }
    }
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Driver/executor-side twin of TextOps.hash64. The first 15 hex
    * digits of md5 are exactly the first 60 bits of the digest
    * (big-endian), so read 8 bytes and shift — no hex string, no
    * Formatter, no per-call getInstance (these dominated the minhash
    * UDF's cost: one call per shingle).
    */
  def hash64Scala(s: String): Long = {
    val md = md5Local.get(); md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }
}
