package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TextOps

/** Text-analysis / dedup pack over the `documents` table — the
  * training-data-pipeline extensions (exact + MinHash-LSH + SimHash +
  * n-gram-Jaccard dedup, language id, quality scoring, token counting,
  * fingerprinting). All pure SQL-expression plans (no UDFs): whole-stage
  * codegen end to end, and every hash is md5-derived so the DuckDB oracle
  * computes bit-identical values (TextOps.hash64).
  */
object TextQueries extends QueryPack {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** DuckDB twin of TextOps.hash64. */
  private def dh(inner: String): String =
    s"('0x' || substr(md5($inner),1,15))::BIGINT"

  private val sparkToks = "filter(split(text, ' '), x -> x != '')"
  private val duckToks = "list_filter(string_split(text, ' '), x -> x != '')"

  /** Spark's order of strings: by UTF-8 bytes. */
  private def utf8(x: String) =
    org.apache.spark.unsafe.types.UTF8String.fromString(x)

  /** Location of q_text_tokens' exported word→n_tokens model
    * artifact. Oracle SQL is a static string, so the path cannot vary
    * with the Verify outDir; the query overwrites it on every run
    * (bench timings for q_text_tokens therefore INCLUDE a coalesce(1)
    * parquet write) and the oracle (which the driver runs immediately
    * after Verify) reads it back. Overridable for concurrent sessions
    * / non-default checkouts via the `graft.tokens.vocab.path` system
    * property or `GRAFT_TOKENS_VOCAB_PATH` env var — note the oracle
    * SQL snapshots whatever value is live when `oracleSql` is built,
    * so Verify and the oracle run must agree on the override.
    */
  private[graft] val tokensVocabPath: String =
    sys.props.get("graft.tokens.vocab.path")
      .orElse(sys.env.get("GRAFT_TOKENS_VOCAB_PATH"))
      .getOrElse("/root/repo/spark-warehouse/q_text_tokens_vocab")

  /** The corpus blocklist — ONE definition shared by q_text_scrub and
    * the corpus pipeline's scrub stage.
    */
  private val PipelineBlocklist = Seq("customer", "merge", "window")
  private val duckBlocklist =
    PipelineBlocklist.map(t => s"'$t'").mkString("[", ",", "]")

  /** Per-doc add-one bigram self-perplexity partials — ONE definition
    * shared by q_text_perplexity and q_text_ppl_buckets: (doc_id,
    * lang, n_big, ss) with ss the exact integer sum of 1e-4-scaled
    * per-bigram -ln P(w2|w1) scores (see q_text_perplexity's scaladoc
    * for the model and the cross-engine exactness argument).
    */
  private def perplexityScores(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .withColumn("t", TextOps.tokens("text"))
      .where(size(col("t")) >= 2)
      .select("doc_id", "lang", "t")
      .localCheckpoint(eager = false) // feeds model counts AND scoring
    val big = base.select(col("doc_id"),
      explode(TextOps.wordShingles("t", 2)).as("bg"))
    val bgCounts = big.groupBy("bg")
      .agg(count(lit(1)).as("cbg"))
    val uniCounts = base
      .select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val vDf = uniCounts.agg(count(lit(1)).as("v"))
    val scored = big
      .withColumn("w1", expr("split(bg, ' ')[0]"))
      .join(bgCounts, Seq("bg"))
      .join(uniCounts, col("w1") === col("w"))
      .crossJoin(broadcast(vDf))
      .withColumn("s",
        expr("cast(round(-ln(cast(cbg + 1 as double) / " +
          "cast(cw + v as double)) * 10000) as bigint)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_big"), sum("s").as("ss"))
    base.select("doc_id", "lang").join(scored, Seq("doc_id"))
  }

  /** DuckDB twin of [[perplexityScores]]: emits `dd` (doc_id, lang, t)
    * and `sc` (doc_id, n_big, ss) CTEs.
    */
  private val duckPpl =
    s"""d AS (SELECT doc_id, lang, $duckToks AS t
          FROM documents),
        dd AS (SELECT doc_id, lang, t FROM d WHERE len(t) >= 2),
        bge AS (SELECT doc_id,
            unnest(list_transform(range(1, len(t)),
              i -> t[i] || ' ' || t[i+1])) AS bg
          FROM dd),
        bgc AS (SELECT bg, count(*)::BIGINT AS cbg FROM bge
          GROUP BY 1),
        unic AS (SELECT w, count(*)::BIGINT AS cw FROM
          (SELECT unnest(t) AS w FROM dd) GROUP BY 1),
        vv AS (SELECT count(*)::BIGINT AS v FROM unic),
        sc AS (SELECT bge.doc_id, count(*)::BIGINT AS n_big,
            sum(round(-ln((bgc.cbg + 1)::DOUBLE /
              (unic.cw + vv.v)::DOUBLE) * 10000)::BIGINT)::BIGINT
              AS ss
          FROM bge JOIN bgc USING (bg)
            JOIN unic ON unic.w = split_part(bge.bg, ' ', 1), vv
          GROUP BY 1)"""

  /** Per-source boilerplate-phrase set (word bigrams with document
    * frequency >= 5 within their source) — the phrase half of
    * q_text_boilerplate.
    */
  private def boilerplateSet(base: DataFrame): DataFrame =
    base
      .select(col("doc_id"), col("source"),
        TextOps.tokens("text").as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(TextOps.wordShingles("t", 2)).as("g"))
      .distinct()
      .groupBy("source", "g").agg(count(lit(1)).as("df"))
      .where(col("df") >= 5).select("source", "g")

  /** Per-doc boilerplate occurrence stats against a boilerplate set —
    * the scoring half of q_text_boilerplate.
    */
  private def boilerplatePerDoc(
      base: DataFrame, bp: DataFrame): DataFrame =
    base
      .select(col("doc_id"), col("source"),
        TextOps.tokens("text").as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(TextOps.wordShingles("t", 2)).as("g"))
      .join(bp.withColumn("is_bp", lit(1L)), Seq("source", "g"),
        "left")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_big"),
        sum(coalesce(col("is_bp"), lit(0L))).as("n_bp"))
      .withColumn("frac_ppm",
        expr("n_bp * 1000000 div n_big"))

  /** EXACT word-trigram Jaccard ≥ 0.5 pair set via the lossless SSJoin
    * rare-prefix bound — the q_dedup_ngram plan through verification,
    * shared with the LSH recall audit (q_dedup_recall) so "ground
    * truth" there is exactly the pair set the ngram gate pins.
    * Returns (doc_a, doc_b, n_a, n_b, overlap); plan notes on
    * q_dedup_ngram.
    */
  private def ngramDupPairs(
      s: SparkSession, dir: String): DataFrame = {
    val trigramHash = TextOps.hash64(
      "concat_ws(' ', element_at(t, i), element_at(t, i+1), " +
        "element_at(t, i+2))")
    val base = docs(s, dir)
      .withColumn("t", TextOps.tokens("text"))
      .where(expr("size(t) >= 3"))
      .withColumn("sh", expr(
        "array_sort(array_distinct(" +
          "transform(sequence(1, size(t) - 2), i -> " +
          trigramHash + ")))"))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
      // 1 row/doc; the posting pass and the verify pass both read
      // it — an interpreted tokenize+hash expression must never
      // be re-inlined into each consumer; EAGER: the recall/minhash_err
      // overlap threads rely on this materializing at call time
      .localCheckpoint()
    val fps = base.select(col("doc_id"), explode(col("sh")).as("fp"))
    val dfreq = fps.groupBy("fp").agg(count(lit(1)).as("df"))
    val prefix = fps.join(dfreq, Seq("fp"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "fp")))
      .join(base.select("doc_id", "n"), Seq("doc_id"))
      // prefix length n − ⌈n/2⌉ + 1 (τ = 1/2, integer arithmetic)
      .where(col("rk") <= col("n") - expr("(n + 1) div 2") + 1L)
      .select(col("doc_id"), col("fp"), col("n"))
    // candidates: rare-prefix token match + the Jaccard length
    // bound (τ·n_a ≤ n_b ≤ n_a/τ) — never an all-pairs stage
    val cands = prefix.as("x").join(prefix.as("y"),
        col("x.fp") === col("y.fp") &&
          col("x.doc_id") < col("y.doc_id") &&
          lit(2) * col("y.n") >= col("x.n") &&
          lit(2) * col("x.n") >= col("y.n"))
      .select(col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"))
      .distinct()
    cands
      .join(base.select(col("doc_id").as("doc_a"),
        col("sh").as("sh_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(base.select(col("doc_id").as("doc_b"),
        col("sh").as("sh_b"), col("n").as("n_b")), Seq("doc_b"))
      // graft_sorted_overlap: sh is array_sort(array_distinct(hash))
      // on both sides, so the fused merge walk counts exactly what
      // size(array_intersect) counted — without the per-pair hash-set
      // build that dominated the verify stage
      .withColumn("overlap",
        expr("graft_sorted_overlap(sh_a, sh_b)").cast("long"))
      .where(lit(3) * col("overlap") >= col("n_a") + col("n_b"))
      .select(col("doc_a"), col("doc_b"),
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"), col("overlap"))
  }

  /** Shared (doc_id, band-bucket key) membership for the CC dedup pair
    * (q_dedup_cluster / q_dedup_survivors): minhash w=3, k=16, 4 bands
    * x r=4 — ONE definition so the two queries' geometry cannot drift.
    */
  private def dedupMembership(
      s: SparkSession, dir: String): DataFrame =
    dedupMembershipOf(docs(s, dir))

  /** Same membership geometry over an arbitrary (doc_id, text, ...)
    * base — the pipeline composition deduplicates a FILTERED corpus,
    * not the raw table, so the base is a parameter.
    */
  private def dedupMembershipOf(base0: DataFrame): DataFrame = {
    val shSig = TextOps.shinglesAndSignature(w = 3, k = 16)
    // no checkpoint here: every consumer (ConnectedComponents.byGroup,
    // the survivors join) persists or single-passes the membership, so
    // an eager materialization of the signature arrays would only add
    // a full extra pass over the corpus
    val base = base0
      .withColumn("r", shSig(col("text")))
      .where(expr("size(r._1) >= 1"))
      .select(col("doc_id"), col("r._2").as("sig"))
    base.select(col("doc_id"), col("sig"),
        explode(expr("sequence(0, 3)")).as("b"))
      .withColumn("gkey", concat_ws(":", col("b"),
        expr(TextOps.bandKey("sig", "b", r = 4))))
      .select("doc_id", "gkey")
  }

  /** DuckDB twin of TextOps.winnow(k=8, t=11) over `documents`: CTE
    * chain ending in `w(doc_id, lang, source, win)` — shared by
    * q_text_winnow and q_text_contamination so the selection geometry
    * cannot drift between them.
    */
  private lazy val duckWinnow: String = duckWinnowFrom("documents", "g", "w")

  /** Same winnow CTE chain over an arbitrary source relation (must
    * carry doc_id, lang, source, text) with caller-chosen CTE names,
    * so one WITH can winnow two relations (pipeline: corpus + eval).
    */
  private def duckWinnowFrom(src: String, g: String, w: String): String =
    s"""$g AS (SELECT doc_id, lang, source,
          CASE WHEN len(text) >= 8 THEN
            list_transform(range(1, len(text) - 6),
              i -> ${dh("substr(text, i, 8)")})
          ELSE []::BIGINT[] END AS gh
        FROM $src),
        $w AS (SELECT doc_id, lang, source,
          CASE WHEN len(gh) >= 4 THEN
            list_distinct(list_transform(range(1, len(gh) - 2),
              j -> list_min(gh[j:j+3])))
          ELSE []::BIGINT[] END AS win
        FROM $g)"""

  /** DuckDB twin of [[dedupMembership]] + connected components: CTE
    * chain ending in `comp(doc_id, canonical)`; prefix with
    * `WITH RECURSIVE`.
    */
  private lazy val duckDedupComp: String = duckDedupCompFrom("documents")

  /** Same CC chain over an arbitrary source relation (must carry
    * doc_id, lang, text) — the pipeline dedups a filtered corpus.
    */
  private def duckDedupCompFrom(src: String): String =
    s"""d AS (
          SELECT doc_id, lang, $duckToks AS t FROM $src),
        s3 AS (SELECT doc_id,
            list_distinct(list_transform(range(1, len(t)-1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
          FROM d WHERE len(t) >= 3),
        sigs AS (SELECT doc_id,
            list_transform(range(0, 16), s ->
              list_min(list_transform(sh, g ->
                (${dh("g")} & 2147483647) * (2 * s + 1)
                  + s * 2654435761))) AS sig
          FROM s3),
        bands AS (SELECT doc_id, b,
            md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS key
          FROM sigs, unnest([0,1,2,3]) AS u(b)),
        edges AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM bands x JOIN bands y ON x.key = y.key AND x.b = y.b
            AND x.doc_id != y.doc_id),
        walk(node, reach) AS (
          SELECT doc_id, doc_id FROM sigs
          UNION
          SELECT w.node, e.b FROM walk w JOIN edges e ON e.a = w.reach),
        comp AS (SELECT node AS doc_id, min(reach) AS canonical
          FROM walk GROUP BY 1)"""

  /** GK-sketch accuracy for the quantile consumers (q_text_quantile_
    * sketch, q_text_ppl_buckets, q_pipeline_corpus stage 1): the cuts
    * are exact-vs-quantile_disc only while accuracy >= the largest
    * per-language group, and the TOTAL document count bounds every
    * group from above — so derive accuracy from the footer-metadata
    * row count (cached per JVM) instead of a fixed 1e6
    * ceiling-of-paranoia, whose oversized summary buffers made the
    * sketch's first-run allocation/JIT cost dominate the whole query
    * at bench scale. Floor 10k keeps small corpora deep inside exact
    * territory; each gate still run-time-asserts maxGroup <= accuracy.
    */
  private def sketchAcc(s: SparkSession, dir: String): Int =
    math.min(math.max(10000L, Tables.rowCount(s, dir, "documents")),
      10000000L).toInt

  /** Per-doc Okapi BM25 (k1=1.2, b=0.75) integer scores against the
    * fixed query-term set — ONE definition shared by q_text_bm25 and
    * the hybrid-fusion retrieval query (SimilarityQueries.q_hybrid_rrf)
    * so the lexical ranking the fusion consumes is exactly the ranking
    * the BM25 gate pins. Returns (doc_id, lang, dl, n_terms, s4) with
    * s4 the exact 1e-4-scaled integer score (see q_text_bm25's scaladoc
    * for the float discipline). Scale shape: tf explode pruned by the
    * broadcast term join before the shuffle; 1-row (N, avgdl) agg
    * cross-broadcast.
    */
  private[queries] val Bm25Terms = Seq("spark", "hash", "window")

  private[queries] def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    // delegate to the ONE scoring definition (TextIndex.score) over a
    // query-pruned build: tf/df restricted to the query terms by a
    // broadcast join before any shuffle — scores identical to the
    // full index's (df/n/avgdl don't depend on the pruning)
    import graft.operators.TextIndex
    val d = docs(s, dir)
    val idx = TextIndex.build(d, onlyTerms = Some(Bm25Terms))
    TextIndex.score(idx, Bm25Terms)
      .join(d.select("doc_id", "lang"), Seq("doc_id"))
      .select("doc_id", "lang", "dl", "n_terms", "s4")
  }

  /** DuckDB twin of [[bm25Scored]]: CTE chain ending in
    * `bm(doc_id, lang, dl, n_terms, s4)`.
    */
  private[queries] val duckBm25 =
    s"""bd AS (SELECT doc_id, lang, $duckToks AS t FROM documents),
        bdd AS (SELECT doc_id, lang, t, len(t)::BIGINT AS dl FROM bd
          WHERE len(t) > 0),
        bn AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM bdd),
        bqt AS (SELECT unnest(['spark','hash','window']) AS term),
        btf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
          FROM (SELECT doc_id, unnest(t) AS term FROM bdd) x
          JOIN bqt USING (term) GROUP BY 1,2),
        bdf AS (SELECT term, count(*)::BIGINT AS df FROM btf
          GROUP BY 1),
        bsc AS (SELECT btf.doc_id, count(*)::BIGINT AS n_terms,
            sum(round((ln(1.0 + (bn.n - bdf.df + 0.5)
                / (bdf.df + 0.5)) *
              (btf.tf * 2.2) /
              (btf.tf + 1.2 * (0.25 + 0.75 * bdd.dl / bn.avgdl)))
              * 10000)::BIGINT)::BIGINT AS s4
          FROM btf JOIN bdf USING (term)
            JOIN bdd ON bdd.doc_id = btf.doc_id, bn
          GROUP BY 1),
        bm AS (SELECT bdd.doc_id, bdd.lang, bdd.dl, bsc.n_terms, bsc.s4
          FROM bdd JOIN bsc ON bsc.doc_id = bdd.doc_id)"""

  /** The q_pipeline_corpus plan, with the stage-boundary persistence
    * pluggable so PlanAuditSpec can compose it WITHOUT localCheckpoint
    * (which severs the plan) and assert the whole chain — in
    * particular that stage 1 plans as sketch-aggregate + broadcast cut
    * join, never a per-language window sort. Production callers pass
    * `_.localCheckpoint(eager = false)`.
    *
    * END-TO-END corpus build — the actual deliverable of a
    * training-data pipeline, composed from the four individually gated
    * stages (q_text_quantile_sketch, q_dedup_survivors,
    * q_text_contamination, q_text_pack) as ONE plan:
    *  1. quality filter: per-lang GK-sketch deciles on the shared
    *     blend (TextOps.qualityScore) via Quantiles.quantileBuckets —
    *     mergeable percentile_approx partials + broadcast cuts, NO
    *     per-language window sort (a hot language at 100 TB would
    *     otherwise sort on one task); drop the bottom two deciles and
    *     unscorable (zero-token) docs. Run at accuracy >= the largest
    *     group, where GK cuts are exact (= DuckDB quantile_disc — the
    *     q_text_quantile_sketch pin), gate-asserted below;
    *  2. near-dup dedup on the SURVIVORS (membership geometry =
    *     dedupMembershipOf, CC over band buckets, min-id canonical
    *     kept, unclustered docs kept);
    *  3. decontamination vs the eval source (src0 plays the benchmark,
    *     full table — eval sets are external and are not themselves
    *     filtered): drop docs whose winnowed-fp overlap ratio reaches
    *     0.75; docs with no fingerprints are unmeasurable and KEPT
    *     (documented drop-order);
    *  4. sequence-pack the survivors at the 512-token budget via the
    *     two-phase prefix scan.
    * Output: per-lang survivor counts after EVERY stage plus pack
    * stats, so a regression localizes to its stage. Each stage
    * boundary runs through `cp` (localCheckpoint in production): the
    * winnow/shingle kernels run once per stage, and stages 2/3 each
    * feed both the next stage and a count aggregation.
    */
  /** The per-stage relations of [[corpusPipeline]], so a query can
    * read each stage's survivor set, not just the final counts.
    */
  private final case class CorpusStages(
      corpus: DataFrame, // doc_id, lang, source, text
      scored: DataFrame, // scorable docs (quality score non-null)
      q1: DataFrame,     // quality survivors
      q2: DataFrame,     // dedup survivors
      q3: DataFrame,     // decontamination survivors (doc_id, lang, text)
      packed: DataFrame, // doc_id, lang, n_tok, cum_before, pack_id
      counts: DataFrame) // the query's per-lang stage-count output

  /** q_text_containment's full plan, parameterized so PlanAuditSpec
    * can drive the verify-stage size gate both ways.
    *
    * ASYMMETRIC containment dedup: C(A,B) = |A ∩ B| / |A| over each
    * doc's distinct char-8-gram fingerprints — the quote / subsumption
    * detector symmetric Jaccard misses (a short doc fully embedded in
    * a long one has high containment but tiny Jaccard). Exact result
    * via the PREFIX FILTER of the set-similarity-join literature
    * (SSJoin/PPJoin, Chaudhuri et al. ICDE 2006): if C(A,B) >= t then
    * B must contain at least one of ANY floor((1-t)|A|)+1 chosen
    * fingerprints of A — losing all of them caps the overlap below
    * t|A|. So only the floor(0.2|A|)+1 globally RAREST fingerprints of
    * each doc (rarity = doc frequency, the classic candidate-minimizing
    * order; one per-doc window over the fp rank) enter the candidate
    * join, and the exact overlap count runs only over candidate pairs
    * — lossless by the bound, never all-pairs. Verdicts are
    * cross-multiplied (5*ov >= 4*n) so the gate is integer-exact; the
    * displayed containment divides once.
    */
  private[graft] def containmentPipeline(
      s: SparkSession, dir: String,
      tauNum: Int = 4, tauDen: Int = 5, // t = 0.8
      bcastGate: Long = 100_000L): DataFrame = {
    // one sorted fingerprint ARRAY per doc: the prefix pass
    // explodes it, and the overlap pass intersects two arrays per
    // candidate pair IN a projection — the posting-explosion
    // alternative (postings ⋈ pairs ⋈ postings then group-count)
    // shuffles |pairs|·|doc| rows, measured 7x slower at bench
    // scale on this small-fp-space corpus (5k docs share 12k
    // distinct fps → 1.8M candidates)
    val fpArr = docs(s, dir)
      .withColumn("fps", array_sort(array_distinct(
        TextOps.charFingerprints("text", w = 8, step = 4))))
      .select(col("doc_id"), col("fps"), size(col("fps")).as("n"))
      .localCheckpoint(eager = false) // 1 row/doc; reused by 3 consumers
    val fps = fpArr.select(col("doc_id").as("a"),
      explode(col("fps")).as("fp"))
    val dfreq = fps.groupBy("fp").agg(count(lit(1)).as("df"))
    // every token ranked inside its doc by the ONE global
    // (df, fp) order — the prefix bound reads it on the A side,
    // the PPJoin positional filter reads it on the B side
    val ranked = fps.join(dfreq, Seq("fp"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("a").orderBy("df", "fp")))
      .join(fpArr.select(col("doc_id").as("a"), col("n")), Seq("a"))
      .select("a", "fp", "rk", "n")
      .localCheckpoint() // one row per posting; probed twice (eager:
      // materialized by the overlap threads at call time)
    val prefix = ranked
      .where(col("rk") <=
        expr(s"(n * ${tauDen - tauNum}) div $tauDen") + 1L)
      .select(col("a"), col("fp"), col("n").as("n_a"))
    // candidates: A-prefix token ⋈ B token, PLUS the positional
    // filter — the first shared token t* in the global order has
    // p_b(t*) ≤ n_b − o + 1, so a qualifying pair always
    // survives via t* (lossless); B-tokens too late in B's order
    // to leave room for τ·n_a overlap generate no pair
    val cands = prefix
      .join(ranked.select(col("a").as("b"), col("fp"),
        col("rk").as("rk_b"), col("n").as("n_b")), Seq("fp"))
      .where(col("a") =!= col("b") &&
        lit(tauDen) * (col("n_b") - col("rk_b") + 1L) >=
          lit(tauNum) * col("n_a"))
      .select("a", "b").distinct()
    // SIZE-GATED verify join (the pruneNetwork hybrid discipline):
    // the overlap pass needs each candidate's full fingerprint
    // array back. Below the gate the one-row-per-doc array table
    // broadcasts (two mapside joins, no shuffle of the pair
    // stream); above it — a corpus-sized array table can NOT ship
    // to every executor — both lookups run as plain shuffle hash
    // joins on the doc id. fpArr is localCheckpointed, so the
    // count is a cached-partition sweep, not a recompute.
    val doBcast = fpArr.count() <= bcastGate
    def side(df: DataFrame) = if (doBcast) broadcast(df) else df
    cands
      .join(side(fpArr.select(col("doc_id").as("a"),
        col("fps").as("fps_a"), col("n").as("n_a"))), Seq("a"))
      .join(side(fpArr.select(col("doc_id").as("b"),
        col("fps").as("fps_b"))), Seq("b"))
      // fused merge-walk overlap (see ngramDupPairs): fps is sorted
      // distinct on both sides by construction
      .withColumn("overlap",
        expr("graft_sorted_overlap(fps_a, fps_b)")
          .cast("long"))
      .where(col("overlap") * tauDen >= col("n_a") * tauNum)
      .withColumn("containment", round(
        col("overlap").cast("double") / col("n_a"), 4))
      .select(col("a").as("contained"), col("b").as("container"),
        col("n_a").cast("long").as("n_a"), col("overlap"),
        col("containment"))
      .orderBy("contained", "container")
  }

  private[graft] def corpusPipeline(
      s: SparkSession, dir: String,
      cp: DataFrame => DataFrame): DataFrame =
    corpusStages(s, dir, cp).counts

  private def corpusStages(
      s: SparkSession, dir: String,
      cp: DataFrame => DataFrame): CorpusStages = {
    val all = docs(s, dir).select("doc_id", "lang", "source", "text")
    // stage 0: scrub — PII tags + blocklist masking via the shared
    // per-doc projection (TextOps.scrubProjection, the same definition
    // q_text_scrub aggregates). Everything
    // downstream — quality scoring, dedup shingles, decontamination
    // fingerprints, packing token counts — consumes the SCRUBBED
    // bytes: what ships is what was checked. Scrub drops nothing, so
    // n_input is unchanged; per-lang masked-token totals surface the
    // stage in the counts output.
    val scrub0 = all.where(col("source") =!= "src0")
      .withColumn("sp", TextOps.scrubProjection(col("text"),
        PipelineBlocklist, "[MASKED]"))
    // n_masked rides the checkpointed projection: aggregating it from
    // scrub0 instead would re-run the regex/blocklist kernels over the
    // whole corpus a second time (cp severs nothing for that branch)
    val scrubbed = cp(scrub0.select(col("doc_id"), col("lang"),
      col("source"), col("sp.scrubbed").as("text"),
      col("sp.n_masked").as("n_masked")))
    val corpus = scrubbed.drop("n_masked")
    val scrubStats = scrubbed.groupBy("lang")
      .agg(sum("n_masked").as("nmask"))
    val scored = cp(corpus
      .withColumn("q", TextOps.qualityScore("text"))
      .where(col("q").isNotNull))
    val acc = sketchAcc(s, dir)
    // gate-only pin of the exactness premise (same contract as
    // q_text_quantile_sketch): GK cuts equal DuckDB quantile_disc
    // only while accuracy >= the largest group — past that bound
    // the gate must fail loudly, not drift into approximate cuts
    if (s.conf.getOption("graft.gate").contains("true")) {
      val row = scored.groupBy("lang").count().agg(max("count")).head()
      val maxG = if (row.isNullAt(0)) 0L else row.getLong(0)
      require(maxG <= acc,
        s"q_pipeline_corpus: largest lang group ($maxG rows) " +
          s"exceeds sketch accuracy $acc — GK cuts are no longer " +
          "exact vs the DuckDB quantile_disc oracle; raise " +
          "accuracy or gate at a smaller SF")
    }
    val q1 = cp(graft.operators.Quantiles
      .quantileBuckets(scored, "lang", "q",
        buckets = 10, accuracy = acc)
      .where(col("bucket") >= 2)
      .select("doc_id", "lang", "source", "text"))
    val comp = graft.operators.ConnectedComponents.byGroup(
      dedupMembershipOf(q1), "doc_id", "gkey")
    val q2 = cp(q1.join(comp, Seq("doc_id"), "left")
      .where(col("component").isNull ||
        col("component") === col("doc_id"))
      .select("doc_id", "lang", "source", "text"))
    val withWin = cp(q2
      .withColumn("win", TextOps.winnowCompiled(8, 11)(col("text")))
      .select("doc_id", "lang", "text", "win"))
    val evalFps = all.where(col("source") === "src0")
      .withColumn("win", TextOps.winnowCompiled(8, 11)(col("text")))
      .select(explode(col("win")).as("fp")).distinct()
    val shared = withWin.where(size(col("win")) > 0)
      .select(col("doc_id"), explode(col("win")).as("fp"))
      .join(broadcast(evalFps), Seq("fp"))
      .groupBy("doc_id").agg(countDistinct("fp").as("nfp"))
    val q3 = cp(withWin.join(shared, Seq("doc_id"), "left")
      .withColumn("ratio",
        when(size(col("win")) > 0,
          coalesce(col("nfp"), lit(0L)) / size(col("win")))
          .otherwise(lit(0.0)))
      .where(col("ratio") < 0.75)
      .select("doc_id", "lang", "text"))
    val sized = q3
      .withColumn("n_tok", expr(s"cast(size($sparkToks) as bigint)"))
      .select("doc_id", "lang", "n_tok")
    val packed = graft.operators.PrefixSum
      .runningTotal(sized, "lang", "doc_id", "n_tok")
      .withColumn("pack_id", expr("cum_before div 512"))
    val packStats = packed.groupBy("lang")
      .agg(countDistinct("pack_id").as("n_packs"),
        sum("n_tok").as("sum_tokens"))
    // stage-count rollup via the shared CorpusFunnel combinator
    // (sparse: a language CAN lose every doc to a stage — left joins
    // with coalesce-0, unlike the dense media funnels)
    import graft.operators.CorpusFunnel
    import graft.operators.CorpusFunnel.{AggStage, CountStage}
    val counts = CorpusFunnel.stageCounts("lang", Seq(
      CountStage("n_input", corpus),
      AggStage(scrubStats.select(col("lang"),
        col("nmask").as("n_masked")), Seq("n_masked")),
      CountStage("n_quality", q1),
      CountStage("n_dedup", q2),
      CountStage("n_clean", q3),
      AggStage(packStats, Seq("n_packs", "sum_tokens"))),
      sparse = true)
    CorpusStages(corpus, scored, q1, q2, q3, packed, counts)
  }

  /** DuckDB CTE chain re-deriving [[corpusStages]] through its q3
    * (decontamination survivors) — ONE definition shared by the
    * q_pipeline_corpus oracle (which appends packing + stage counts)
    * and the q_pipeline_provenance oracle (which appends the per-doc
    * drop classification), so the two gates pin the SAME pipeline.
    * Callers prepend `WITH RECURSIVE` (the dedup walk needs it).
    */
  private def duckCorpusChainToQ3: String =
    s"""raw0 AS (SELECT doc_id, lang, source,
              list_filter(string_split(
                regexp_replace(regexp_replace(regexp_replace(text,
                  '${TextOps.emailRe}', '[EMAIL]', 'g'),
                  '${TextOps.phoneRe}', '[PHONE]', 'g'),
                  '${TextOps.ipv4Re}', '[IP]', 'g'), ' '),
                x -> x != '') AS mt
            FROM documents WHERE source != 'src0'),
          corpus0 AS (SELECT doc_id, lang, source,
              array_to_string(list_transform(mt, x ->
                CASE WHEN list_contains($duckBlocklist, x)
                  THEN '[MASKED]' ELSE x END), ' ') AS text,
              len(list_filter(mt, x ->
                list_contains($duckBlocklist, x)))::BIGINT AS nmask
            FROM raw0),
          mq AS (SELECT doc_id, lang, source, text, $duckToks AS t
            FROM corpus0 WHERE len($duckToks) > 0),
          sc AS (SELECT doc_id, lang, source, text,
              0.4 * least(len(t) / 80.0, 1.0)
                + 0.4 * (len(list_distinct(t)) * 1.0 / len(t))
                + 0.2 * (1.0 - len(list_filter(t,
                    x -> list_contains(['the','a'], x))) * 1.0 / len(t))
                AS q
            FROM mq),
          cuts AS (SELECT lang, quantile_disc(q,
              [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cs
            FROM sc GROUP BY 1),
          q1 AS (SELECT sc.doc_id, sc.lang, sc.source, sc.text
            FROM sc JOIN cuts ON cuts.lang = sc.lang
            WHERE len(list_filter(cuts.cs, c -> c < sc.q)) >= 2),
          ${duckDedupCompFrom("q1")},
          q2 AS (SELECT q1.doc_id, q1.lang, q1.source, q1.text FROM q1
            LEFT JOIN comp ON comp.doc_id = q1.doc_id
            WHERE comp.canonical IS NULL OR comp.canonical = q1.doc_id),
          ${duckWinnowFrom("q2", "g2", "w2")},
          ev AS (SELECT doc_id, lang, source, text FROM documents
            WHERE source = 'src0'),
          ${duckWinnowFrom("ev", "ge", "we")},
          e AS (SELECT DISTINCT unnest(win) AS fp FROM we),
          cf AS (SELECT doc_id, unnest(win) AS fp FROM w2
            WHERE len(win) > 0),
          n AS (SELECT cf.doc_id, count(DISTINCT cf.fp) AS nfp
            FROM cf JOIN e ON cf.fp = e.fp GROUP BY 1),
          q3 AS (SELECT w2.doc_id, w2.lang FROM w2
            LEFT JOIN n ON n.doc_id = w2.doc_id
            WHERE CASE WHEN len(w2.win) > 0
              THEN coalesce(n.nfp, 0) * 1.0 / len(w2.win)
              ELSE 0 END < 0.75)"""

  override def queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q_text_stats", Seq("P9", "A8"),
      (s, dir) =>
        docs(s, dir)
          .withColumn("t", TextOps.tokens("text"))
          .selectExpr(
            "lang",
            "size(t) as n_tok",
            "size(array_distinct(t)) as n_dist",
            "aggregate(t, cast(0 as bigint), (a, x) -> a + length(x)) as sum_len",
            "regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') as n_bpe")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            round(avg("n_tok"), 4).as("avg_tokens"),
            round(avg(col("sum_len") / col("n_tok")), 4).as("avg_word_len"),
            round(avg(col("n_dist") / col("n_tok")), 4).as("avg_ttr"),
            round(avg("n_bpe"), 4).as("avg_bpe_tokens"))
          .orderBy("lang"),
      Some(s"""WITH d AS (SELECT lang, $duckToks AS t, text FROM documents),
          m AS (SELECT lang, len(t) AS n_tok,
                  len(list_distinct(t)) AS n_dist,
                  list_sum(list_transform(t, x -> len(x)))::BIGINT AS sum_len,
                  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                    AS n_bpe
                FROM d)
        SELECT lang, count(*) AS n_docs,
          round(avg(n_tok),4) AS avg_tokens,
          round(avg(sum_len/n_tok),4) AS avg_word_len,
          round(avg(n_dist/n_tok),4) AS avg_ttr,
          round(avg(n_bpe),4) AS avg_bpe_tokens
        FROM m GROUP BY 1 ORDER BY 1"""),
      "Token counting (whitespace + BPE-ish regex), type-token ratio, " +
        "word length — all inside one codegen'd projection."),

    GraftQuery(
      "q_text_tfidf", Seq("P9", "A8", "W3"),
      (s, dir) => {
        // TF-IDF top-3 terms per document. Ranking uses the EXACT
        // rational score tf/df, compared by cross-multiplied longs
        // (tf_a * df_b vs tf_b * df_a). For tf * df below 2^50 that is
        // the order of the correctly rounded (tf*N)/df of the oracle:
        // two distinct such quotients differ by more than their
        // rounding, so rank order cannot diverge between Spark and the
        // oracle; the displayed smoothed tfidf = tf * ln((N+1)/(df+1))
        // is rounded to 4 decimals. At scale: the tokens shuffle once,
        // on the term (each token, where a (doc, term) partial count
        // would cross two shuffles), and tf, df and their join run in
        // that partitioning; the top-3 ranks per document after one shuffle
        // on the document (a window would plan a sort stage, a stage
        // after it and interpreted projections). N, the count of
        // documents with a token, is a scalar subquery that only the
        // display column reads. Tokens are the split's non-empty
        // pieces, as TextOps.tokens gives them, without its lambda.
        import s.implicits._
        val d = docs(s, dir)
        val n = d.where(col("text").rlike("[^ ]")).agg(count(lit(1)))
          .scalar()
        val tf = d
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .where(col("term") =!= "")
          .repartition(col("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        tf.hint("shuffle_hash").join(dfreq, Seq("term"))
          .select("doc_id", "term", "tf", "df")
          .as[(Long, String, Long, Long)]
          .repartition(col("doc_id"))
          .mapPartitions { rows =>
            rows.toSeq.groupBy(_._1).iterator.flatMap { case (_, ts) =>
              ts.sortWith { (a, b) =>
                val c = java.lang.Long.compare(a._3 * b._4, b._3 * a._4)
                if (c != 0) c > 0 else utf8(a._2).compareTo(utf8(b._2)) < 0
              }.take(3).zipWithIndex.map { case (r, i) =>
                (r._1, i + 1, r._2, r._3, r._4)
              }
            }
          }
          .toDF("doc_id", "rnk", "term", "tf", "df")
          .withColumn("tfidf", round(col("tf") *
            log((n + lit(1.0)) / (col("df") + lit(1.0))), 4))
          .orderBy("doc_id", "rnk")
      },
      Some(s"""WITH d AS (SELECT doc_id, $duckToks AS t FROM documents
            WHERE len($duckToks) > 0),
          tok AS (SELECT doc_id, unnest(t) AS term FROM d),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1,2),
          dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS n FROM d),
          scored AS (SELECT doc_id, term, tf, df,
              (tf * n.n)::DOUBLE / df AS score,
              round(tf * ln((n.n + 1.0) / (df + 1.0)), 4) AS tfidf
            FROM tf JOIN dfreq USING (term) CROSS JOIN n),
          r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, term) AS rnk FROM scored)
        SELECT doc_id, rnk, term, tf, df, tfidf
        FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk"""),
      "TF-IDF top terms per doc: exact rational ranking score (no " +
        "float-log rank flips), smoothed-log tfidf display column; " +
        "tf/df on one term shuffle, top-3 per doc on one doc shuffle."),

    GraftQuery(
      "q_text_quality", Seq("P5", "A8"),
      (s, dir) =>
        docs(s, dir)
          .withColumn("t", TextOps.tokens("text"))
          .selectExpr(
            "lang",
            "size(t) as n_tok",
            "size(array_distinct(t)) / size(t) as ttr",
            "size(filter(t, x -> array_contains(array('the','a'), x))) " +
              "/ size(t) as stop_ratio")
          .selectExpr(
            "lang",
            "0.4 * least(n_tok / 80.0, 1.0) + 0.4 * ttr " +
              "+ 0.2 * (1.0 - stop_ratio) as q")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            round(avg("q"), 4).as("avg_quality"),
            count(when(col("q") < 0.55, 1)).as("n_low_quality"))
          .orderBy("lang"),
      Some(s"""WITH d AS (SELECT lang, $duckToks AS t FROM documents),
          m AS (SELECT lang, len(t) AS n_tok,
                  len(list_distinct(t)) * 1.0 / len(t) AS ttr,
                  len(list_filter(t, x -> list_contains(['the','a'], x)))
                    * 1.0 / len(t) AS stop_ratio
                FROM d),
          sc AS (SELECT lang,
                   0.4 * least(n_tok / 80.0, 1.0) + 0.4 * ttr
                     + 0.2 * (1.0 - stop_ratio) AS q
                 FROM m)
        SELECT lang, count(*) AS n_docs, round(avg(q),4) AS avg_quality,
          count(CASE WHEN q < 0.55 THEN 1 END) AS n_low_quality
        FROM sc GROUP BY 1 ORDER BY 1"""),
      "Quality scoring: length / stopword-ratio / type-token-ratio blend " +
        "(the reference's per-compound property filters, column-math only)."),

    GraftQuery(
      "q_text_domain_cap", Seq("D8", "W3", "A8"),
      (s, dir) => {
        // Per-source quota capping (web-corpus "domain balancing"):
        // keep at most K=10 docs per source, preferring the
        // HIGHEST-quality ones — the curation step that stops one
        // crawled domain from dominating the training mix. Quality is
        // the q_text_quality blend (identical double chain on both
        // engines); ties break on doc_id, so the kept set is exact.
        // Scale shape: one window partitioned BY SOURCE (parallel
        // across domains; for a pathological mega-domain the typed
        // TopKAgg aggregator is the drop-in replacement — same
        // contract, map-side combining), then a per-source integer
        // rollup. No global sort anywhere.
        val ranked = docs(s, dir)
          // the ONE shared blend definition (also q_text_quality /
          // q_text_quantile); zero-token docs
          // score null and drop, like the size(t) > 0 guard
          .withColumn("q", TextOps.qualityScore("text"))
          .where(col("q").isNotNull)
          .withColumn("rk", row_number().over(
            Window.partitionBy("source")
              .orderBy(col("q").desc, col("doc_id"))))
        ranked.groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("rk") <= 10, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("rk") <= 10, col("n_chars")).otherwise(0L))
              .as("kept_chars"),
            sum(when(col("rk") > 10, col("n_chars")).otherwise(0L))
              .as("dropped_chars"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (SELECT doc_id, source, n_chars,
              $duckToks AS t FROM documents),
          sc AS (SELECT doc_id, source, n_chars,
              0.4 * least(len(t) / 80.0, 1.0)
                + 0.4 * (len(list_distinct(t)) * 1.0 / len(t))
                + 0.2 * (1.0 - len(list_filter(t, x ->
                    list_contains(['the','a'], x))) * 1.0 / len(t))
                AS q
            FROM d WHERE len(t) > 0),
          rk AS (SELECT source, n_chars,
              row_number() OVER (PARTITION BY source
                ORDER BY q DESC, doc_id) AS rk
            FROM sc)
        SELECT source, count(*)::BIGINT AS n_docs,
          sum(CASE WHEN rk <= 10 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
          sum(CASE WHEN rk <= 10 THEN n_chars ELSE 0 END)::BIGINT
            AS kept_chars,
          sum(CASE WHEN rk > 10 THEN n_chars ELSE 0 END)::BIGINT
            AS dropped_chars
        FROM rk GROUP BY 1 ORDER BY 1"""),
      "Domain balancing: keep the top-10 quality docs per source via a " +
        "source-partitioned window (TopKAgg is the mega-domain " +
        "fallback), with kept/dropped char accounting per source."),

    GraftQuery(
      "q_text_quantile", Seq("W2", "W8", "A8"),
      (s, dir) => {
        // Quantile-based quality bucketing — the "keep the top X% per
        // language" training-data filter. EXACT deciles via cume_dist
        // over (q, doc_id): the blend q is the same IEEE expression on
        // both engines and doc_id breaks ties, so bucket edges cannot
        // drift. The window partitions by lang (hash shuffle + in-
        // partition sort); at 100 TB swap in the sketch path
        // (operators.Quantiles.quantileBuckets: per-lang GK cut
        // points from one mergeable aggregation, broadcast back) —
        // same output contract, exact away from bucket edges.
        // zero-token docs score null (NaN in DuckDB via divide-by-zero,
        // sorting to the opposite window end) — excluded on BOTH sides.
        // The blend lives in TextOps.qualityScore.
        val scored = docs(s, dir)
          .withColumn("q", TextOps.qualityScore("text"))
          .where(col("q").isNotNull)
          .select("doc_id", "lang", "q")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("q"), col("doc_id"))
        scored.withColumn("cd", cume_dist().over(w))
          .withColumn("decile",
            least(ceil(col("cd") * 10) - 1, lit(9L)).cast("long"))
          .groupBy("lang", "decile")
          .agg(count(lit(1)).as("n_docs"),
            round(min("q"), 4).as("min_q"),
            round(avg("q"), 4).as("avg_q"),
            round(max("q"), 4).as("max_q"))
          .orderBy("lang", "decile")
      },
      Some(s"""WITH d AS (SELECT doc_id, lang, $duckToks AS t
            FROM documents WHERE len($duckToks) > 0),
          m AS (SELECT doc_id, lang, len(t) AS n_tok,
              len(list_distinct(t)) * 1.0 / len(t) AS ttr,
              len(list_filter(t, x -> list_contains(['the','a'], x)))
                * 1.0 / len(t) AS stop_ratio
            FROM d),
          sc AS (SELECT doc_id, lang,
              0.4 * least(n_tok / 80.0, 1.0) + 0.4 * ttr
                + 0.2 * (1.0 - stop_ratio) AS q
            FROM m),
          cd AS (SELECT lang, q,
              cume_dist() OVER (PARTITION BY lang ORDER BY q, doc_id)
                AS cd
            FROM sc),
          dec AS (SELECT lang, q,
              least(ceil(cd * 10) - 1, 9)::BIGINT AS decile FROM cd)
        SELECT lang, decile, count(*) AS n_docs,
          round(min(q), 4) AS min_q, round(avg(q), 4) AS avg_q,
          round(max(q), 4) AS max_q
        FROM dec GROUP BY 1, 2 ORDER BY 1, 2"""),
      "Exact per-language quality deciles via cume_dist with a " +
        "deterministic tie-break — the keep-top-X% training-data " +
        "filter; swap in a quantile sketch past memory scale."),

    GraftQuery(
      "q_text_quantile_sketch", Seq("W2", "A8"),
      (s, dir) => {
        // The GK-SKETCH quantile path through the gate: same blend and
        // bucket contract as q_text_quantile, but buckets come from
        // Quantiles.quantileBuckets (mergeable percentile_approx
        // partials + broadcast cuts — the 100 TB path with no per-group
        // sort) run at accuracy >= group size, where GK is EXACT: its
        // cut for p is the sorted group's element at rank ceil(p*n) —
        // bit-identical to DuckDB's quantile_disc, so the oracle pins
        // the sketch path's arithmetic, not an approximation of it.
        // Bucket semantics differ from cume_dist deciles only in how
        // tie-runs land (documented in the operator's scaladoc); the
        // oracle recomputes THIS rule, not the window rule.
        val scored = docs(s, dir)
          .withColumn("q", TextOps.qualityScore("text"))
          .where(col("q").isNotNull)
          .select("doc_id", "lang", "q")
        val acc = sketchAcc(s, dir)
        // gate-only pin of the exactness premise (the LSH/IVF
        // gateCheck pattern): GK is exact only while accuracy >= the
        // largest group, and the oracle compares EXACT quantiles — a
        // gate run on data past that bound must fail loudly, not
        // silently drift into approximate cuts
        if (s.conf.getOption("graft.gate").contains("true")) {
          val row = scored.groupBy("lang").count().agg(max("count")).head()
          // null max = zero scored rows: trivially exact, pin passes
          val maxG = if (row.isNullAt(0)) 0L else row.getLong(0)
          require(maxG <= acc,
            s"q_text_quantile_sketch: largest lang group ($maxG rows) " +
              s"exceeds sketch accuracy $acc — GK cuts are no longer " +
              "exact and the DuckDB oracle pins exact quantile_disc; " +
              "raise accuracy or gate at a smaller SF")
        }
        graft.operators.Quantiles
          .quantileBuckets(scored, "lang", "q",
            buckets = 10, accuracy = acc)
          .withColumn("bucket", col("bucket").cast("long"))
          .groupBy("lang", "bucket")
          .agg(count(lit(1)).as("n_docs"),
            round(min("q"), 4).as("min_q"),
            round(avg("q"), 4).as("avg_q"),
            round(max("q"), 4).as("max_q"))
          .orderBy("lang", "bucket")
      },
      Some(s"""WITH d AS (SELECT doc_id, lang, $duckToks AS t
            FROM documents WHERE len($duckToks) > 0),
          m AS (SELECT doc_id, lang, len(t) AS n_tok,
              len(list_distinct(t)) * 1.0 / len(t) AS ttr,
              len(list_filter(t, x -> list_contains(['the','a'], x)))
                * 1.0 / len(t) AS stop_ratio
            FROM d),
          sc AS (SELECT doc_id, lang,
              0.4 * least(n_tok / 80.0, 1.0) + 0.4 * ttr
                + 0.2 * (1.0 - stop_ratio) AS q
            FROM m),
          cuts AS (SELECT lang, quantile_disc(q,
              [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cs
            FROM sc GROUP BY 1),
          b AS (SELECT sc.lang, sc.q,
              len(list_filter(cuts.cs, c -> c < sc.q))::BIGINT AS bucket
            FROM sc JOIN cuts ON cuts.lang = sc.lang)
        SELECT lang, bucket, count(*) AS n_docs,
          round(min(q), 4) AS min_q, round(avg(q), 4) AS avg_q,
          round(max(q), 4) AS max_q
        FROM b GROUP BY 1, 2 ORDER BY 1, 2"""),
      "GK-sketch quantile bucketing through the gate at exact-accuracy " +
        "settings: percentile_approx's rank-ceil(p*n) cuts equal " +
        "DuckDB's quantile_disc, so the mergeable-sketch path (no " +
        "per-group sort) is pinned bit-for-bit, not approximately."),

    GraftQuery(
      "q_text_langid", Seq("P2", "P4"),
      (s, dir) => {
        def score(words: String) =
          s"size(filter(t, x -> array_contains(array($words), x)))"
        docs(s, dir)
          .withColumn("t", TextOps.tokens("text"))
          .selectExpr(
            "lang",
            s"${score("'the','a','is','of'")} as s_en",
            s"${score("'el','la','de','y'")} as s_es",
            s"${score("'le','les','et','une'")} as s_fr",
            s"${score("'der','die','und','das'")} as s_de")
          .selectExpr("lang",
            "case when s_en >= s_es and s_en >= s_fr and s_en >= s_de " +
              "then 'en' when s_es >= s_fr and s_es >= s_de then 'es' " +
              "when s_fr >= s_de then 'fr' else 'de' end as predicted")
          .groupBy("lang", "predicted")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "predicted")
      },
      Some(s"""WITH d AS (SELECT lang, $duckToks AS t FROM documents),
          sc AS (SELECT lang,
            len(list_filter(t, x -> list_contains(['the','a','is','of'], x))) AS s_en,
            len(list_filter(t, x -> list_contains(['el','la','de','y'], x))) AS s_es,
            len(list_filter(t, x -> list_contains(['le','les','et','une'], x))) AS s_fr,
            len(list_filter(t, x -> list_contains(['der','die','und','das'], x))) AS s_de
          FROM d),
          p AS (SELECT lang,
            CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                 WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                 WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS predicted
          FROM sc)
        SELECT lang, predicted, count(*) AS n_docs
        FROM p GROUP BY 1,2 ORDER BY 1,2"""),
      "Marker-word language-id heuristic with deterministic argmax " +
        "tie-break; confusion-matrix output."),

    GraftQuery(
      "q_text_fingerprint", Seq("P10", "P11", "D1"),
      (s, dir) =>
        docs(s, dir)
          .withColumn("fps", TextOps.charFingerprints("text", w = 8, step = 4))
          .selectExpr("source",
            "size(array_distinct(fps)) as n_fp",
            "array_min(fps) as min_fp")
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_fp").as("sum_fp"),
            min("min_fp").as("min_fp"),
            countDistinct("min_fp").as("n_min_clusters"))
          .orderBy("source"),
      Some(s"""WITH f AS (
          SELECT source,
            list_transform(range(1, greatest(len(text)-7, 1)+1, 4),
              i -> ${dh("substr(text, i, 8)")}) AS fps
          FROM documents),
          m AS (SELECT source, len(list_distinct(fps)) AS n_fp,
                  list_min(fps) AS min_fp FROM f)
        SELECT source, count(*) AS n_docs, sum(n_fp)::BIGINT AS sum_fp,
          min(min_fp) AS min_fp, count(DISTINCT min_fp) AS n_min_clusters
        FROM m GROUP BY 1 ORDER BY 1"""),
      "Rolling-hash document fingerprinting (8-char windows, stride 4); " +
        "min-fingerprint clustering per source."),

    GraftQuery(
      "q_text_winnow", Seq("P10", "D1", "J11"),
      (s, dir) => {
        // Winnowing fingerprint selection (8-char grams, guarantee
        // threshold t=11 -> window of 4 hashes): any >= 11-char shared
        // substring is guaranteed a shared fingerprint. Per-lang
        // selection stats plus the copy-detection signal —
        // fingerprints appearing in >= 2 docs — computed from the
        // exploded skinny (lang, doc_id, fp) relation: at scale that
        // is the same hash-partitioned fp-groupBy shape as every other
        // band/bucket pipeline here, never a doc x doc comparison.
        // Compiled kernel (one md5 per position; the expression twin
        // pays two interpreted lambdas per position — 7.5 s -> <1 s at
        // sf0.1), bit-parity pinned by OperatorsSpec. Materialized:
        // stats and the fp explode both read it — without the barrier
        // the per-position md5 pass runs once per consumer.
        val base = docs(s, dir)
          .withColumn("win", TextOps.winnowCompiled(8, 11)(col("text")))
          .select("doc_id", "lang", "win")
          .localCheckpoint(eager = false)
        val stats = base.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            round(avg(size(col("win"))), 4).as("avg_fps"))
        val fps = base.select(col("lang"), col("doc_id"),
          explode(col("win")).as("fp"))
        val shared = fps.groupBy("lang", "fp")
          .agg(countDistinct("doc_id").as("nd"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_distinct_fps"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L))
              .as("n_shared_fps"))
        stats.join(shared, Seq("lang")).orderBy("lang")
      },
      Some(s"""WITH $duckWinnow,
          s AS (SELECT lang, count(*) AS n_docs,
              round(avg(len(win)), 4) AS avg_fps FROM w GROUP BY 1),
          f AS (SELECT lang, doc_id, unnest(win) AS fp FROM w),
          c AS (SELECT lang, fp, count(DISTINCT doc_id) AS nd
            FROM f GROUP BY 1, 2),
          sh AS (SELECT lang, count(*) AS n_distinct_fps,
              sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT
                AS n_shared_fps
            FROM c GROUP BY 1)
        SELECT s.lang, s.n_docs, s.avg_fps, sh.n_distinct_fps,
          sh.n_shared_fps
        FROM s JOIN sh ON sh.lang = s.lang ORDER BY 1"""),
      "Winnowing fingerprints (8-char grams, window-min over 4 — any " +
        ">= 11-char shared substring guarantees a shared fingerprint): " +
        "per-lang selection density + cross-doc shared-fingerprint " +
        "counts from one fp-keyed groupBy."),

    GraftQuery(
      "q_text_contamination", Seq("P10", "D1", "J7"),
      (s, dir) => {
        // Benchmark decontamination — the step every training-data
        // pipeline runs before shipping a corpus: score each corpus
        // doc's winnowed-fingerprint overlap with the eval set (source
        // src0 plays the benchmark; winnowing guarantees any
        // >= 11-char verbatim overlap contributes) and flag docs whose
        // overlap RATIO (shared fps / own fps — length-normalized, the
        // standard contamination metric shape) reaches 0.75. The eval
        // fingerprint set is DISTINCT'd and broadcast — eval sets are
        // tiny next to the corpus at any real scale — so the only
        // shuffled relation is the corpus's skinny (doc_id, fp)
        // explode, and the score comes back through one fp equi-join +
        // per-doc count. Both engines compute the ratio from identical
        // integers, so the threshold cannot flip between them.
        // materialized: the eval side and both corpus uses read it —
        // without the barrier the winnow kernel runs once per consumer
        val base = docs(s, dir)
          .withColumn("win", TextOps.winnowCompiled(8, 11)(col("text")))
          .select("doc_id", "lang", "source", "win")
          .localCheckpoint(eager = false)
        val evalFps = base.where(col("source") === "src0")
          .select(explode(col("win")).as("fp")).distinct()
        val corpus = base.where(col("source") =!= "src0" &&
            size(col("win")) > 0)
          .select("doc_id", "lang", "win")
        val shared = corpus
          .select(col("doc_id"), explode(col("win")).as("fp"))
          .join(broadcast(evalFps), Seq("fp"))
          .groupBy("doc_id").agg(countDistinct("fp").as("nfp"))
        corpus.join(shared, Seq("doc_id"), "left")
          .withColumn("ratio",
            coalesce(col("nfp"), lit(0L)) / size(col("win")))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("ratio") >= 0.75, 1L).otherwise(0L))
              .as("n_contaminated"),
            round(avg("ratio"), 4).as("avg_overlap"))
          .orderBy("lang")
      },
      Some(s"""WITH $duckWinnow,
          e AS (SELECT DISTINCT unnest(win) AS fp FROM w
            WHERE source = 'src0'),
          c AS (SELECT doc_id, lang, win FROM w
            WHERE source != 'src0' AND len(win) > 0),
          cf AS (SELECT doc_id, unnest(win) AS fp FROM c),
          n AS (SELECT cf.doc_id, count(DISTINCT cf.fp) AS nfp
            FROM cf JOIN e ON cf.fp = e.fp GROUP BY 1)
        SELECT c.lang, count(*) AS n_docs,
          sum(CASE WHEN coalesce(n.nfp, 0) * 1.0 / len(c.win) >= 0.75
            THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
          round(avg(coalesce(n.nfp, 0) * 1.0 / len(c.win)), 4)
            AS avg_overlap
        FROM c LEFT JOIN n ON n.doc_id = c.doc_id
        GROUP BY 1 ORDER BY 1"""),
      "Benchmark decontamination: length-normalized winnowed-" +
        "fingerprint overlap of each corpus doc vs the (broadcast) " +
        "eval set, flagged at ratio >= 0.75 — catches >= 11-char " +
        "verbatim overlap, one fp equi-join, no doc x doc comparison."),

    GraftQuery(
      "q_text_pack", Seq("D9", "W1", "A8"),
      (s, dir) => {
        // Sequence packing — the "concat docs in order, chunk at the
        // context budget" step that turns a corpus into training
        // batches: per-lang docs in doc_id order, a doc joins the pack
        // where its first token lands (pack_id = exclusive-prefix
        // token count div 512). The prefix sum runs as the TWO-PHASE
        // SCAN (PrefixSum.runningTotal: range partition + tiny
        // per-partition totals + broadcast offsets), not a per-lang
        // window — a hot language would otherwise sort on one task.
        // The DuckDB oracle recomputes the identical assignment with
        // its window cumsum, pinning the scan's exactness.
        val sized = docs(s, dir)
          .withColumn("n_tok",
            expr(s"cast(size($sparkToks) as bigint)"))
          .select("doc_id", "lang", "n_tok")
        graft.operators.PrefixSum
          .runningTotal(sized, "lang", "doc_id", "n_tok")
          .withColumn("pack_id", expr("cum_before div 512"))
          .groupBy("lang", "pack_id")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tok").as("sum_tokens"))
          .orderBy("lang", "pack_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, lang,
            len($duckToks)::BIGINT AS n_tok FROM documents),
          c AS (SELECT doc_id, lang, n_tok,
            coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS cum_before
          FROM d)
        SELECT lang, (cum_before // 512)::BIGINT AS pack_id,
          count(*) AS n_docs, sum(n_tok)::BIGINT AS sum_tokens
        FROM c GROUP BY 1, 2 ORDER BY 1, 2"""),
      "Sequence packing at a 512-token budget: per-lang exclusive " +
        "prefix token counts via the two-phase distributed scan (range " +
        "partitions + broadcast offsets — no per-group window sort), " +
        "chunked into pack ids; per-pack doc and token counts."),

    GraftQuery(
      "q_text_repetition", Seq("P9", "A8", "D1"),
      (s, dir) =>
        // Repetition quality signals (the Gopher-style filters a
        // training pipeline applies before anything else): duplicate-
        // bigram fraction (1 - distinct/total) and top-token share
        // (most frequent token's share of the doc). The top-token
        // count uses the compiled one-pass kernel — the expression
        // form is O(distinct x n) nested lambdas per doc, quadratic
        // exactly on the long repetitive docs this filter targets
        // (parity pinned by OperatorsSpec).
        docs(s, dir)
          .withColumn("t", TextOps.tokens("text"))
          .where(expr("size(t) >= 2"))
          .withColumn("bg", expr(
            "transform(sequence(1, size(t) - 1), i -> " +
              "concat_ws(' ', element_at(t, i), element_at(t, i+1)))"))
          .withColumn("top_cnt", TextOps.topTokenCountCompiled()(col("t")))
          .selectExpr("lang",
            "1.0 - size(array_distinct(bg)) / size(bg) as dup_bg",
            "top_cnt / size(t) as top_tok")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            round(avg("dup_bg"), 4).as("avg_dup_bigram"),
            round(max("dup_bg"), 4).as("max_dup_bigram"),
            round(avg("top_tok"), 4).as("avg_top_token"),
            round(max("top_tok"), 4).as("max_top_token"))
          .orderBy("lang"),
      Some(s"""WITH d AS (SELECT lang, $duckToks AS t FROM documents),
          m AS (SELECT lang,
              list_transform(range(1, len(t)),
                i -> t[i] || ' ' || t[i+1]) AS bg, t
            FROM d WHERE len(t) >= 2),
          r AS (SELECT lang,
              1.0 - len(list_distinct(bg)) / len(bg) AS dup_bg,
              list_max(list_transform(list_distinct(t), x ->
                len(list_filter(t, y -> y = x)))) / len(t) AS top_tok
            FROM m)
        SELECT lang, count(*) AS n_docs,
          round(avg(dup_bg), 4) AS avg_dup_bigram,
          round(max(dup_bg), 4) AS max_dup_bigram,
          round(avg(top_tok), 4) AS avg_top_token,
          round(max(top_tok), 4) AS max_top_token
        FROM r GROUP BY 1 ORDER BY 1"""),
      "Repetition quality signals: duplicate-bigram fraction and " +
        "top-token share per doc (one codegen'd projection), " +
        "per-language aggregates — the pre-filter every training " +
        "pipeline runs."),

    GraftQuery(
      "q_dedup_minhash_lsh", Seq("D1", "D8", "J11"),
      (s, dir) => {
        val shSig = TextOps.shinglesAndSignature(w = 3, k = 16)
        val base = docs(s, dir)
          .withColumn("r", shSig(col("text")))
          .where(expr("size(r._1) >= 1"))
          .select(col("doc_id"), col("r._1").as("sh"),
            col("r._2").as("sig"))
          // materialized: reused by bands/buckets/verification, and the
          // self-join must not re-inline the signature computation
          .localCheckpoint(eager = false)
        val bands = base.select(
            col("doc_id"), col("sig"),
            explode(expr("sequence(0, 3)")).as("b"))
          .withColumn("key", expr(TextOps.bandKey("sig", "b", r = 4)))
          .select("doc_id", "b", "key")
          // materialized: read by buckets + BOTH sides of the pair
          // self-join — without the barrier the md5 band keys are
          // recomputed three times
          .localCheckpoint(eager = false)
        val buckets = bands.groupBy("b", "key")
          .agg(count(lit(1)).as("sz")).where(col("sz") > 1)
        val pairs = bands.as("x")
          .join(bands.as("y"),
            col("x.key") === col("y.key") && col("x.b") === col("y.b") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .distinct()
        val verified = pairs
          .join(base.select(col("doc_id").as("doc_a"),
            col("sh").as("sh_a"), col("sig").as("sig_a")), Seq("doc_a"))
          .join(base.select(col("doc_id").as("doc_b"),
            col("sh").as("sh_b"), col("sig").as("sig_b")), Seq("doc_b"))
          .selectExpr(
            "size(filter(zip_with(sig_a, sig_b, (p, q) -> p = q), v -> v)) " +
              "/ 16.0 as est_jac",
            "size(array_intersect(sh_a, sh_b)) / (size(sh_a) + size(sh_b) " +
              "- size(array_intersect(sh_a, sh_b))) as exact_jac")
        base.agg(count(lit(1)).as("n_docs"))
          .crossJoin(buckets.agg(
            coalesce(count(lit(1)), lit(0L)).as("n_buckets_multi")))
          .crossJoin(verified.agg(
            count(lit(1)).as("n_candidate_pairs"),
            coalesce(sum(when(col("exact_jac") >= 0.7, 1L).otherwise(0L)),
              lit(0L)).as("n_dup_pairs"),
            round(coalesce(avg("est_jac"), lit(-1.0)), 4).as("avg_est_jac"),
            round(coalesce(avg("exact_jac"), lit(-1.0)), 4)
              .as("avg_exact_jac")))
      },
      Some(s"""WITH d AS (
          SELECT doc_id, $duckToks AS t FROM documents),
        s3 AS (SELECT doc_id,
            list_distinct(list_transform(range(1, len(t)-1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
          FROM d WHERE len(t) >= 3),
        sigs AS (SELECT doc_id, sh,
            list_transform(range(0, 16), s ->
              list_min(list_transform(sh, g ->
                (${dh("g")} & 2147483647) * (2 * s + 1)
                  + s * 2654435761))) AS sig
          FROM s3),
        bands AS (SELECT doc_id, b,
            md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS key
          FROM sigs, unnest([0,1,2,3]) AS u(b)),
        buckets AS (SELECT b, key, count(*) AS sz FROM bands
          GROUP BY 1,2 HAVING count(*) > 1),
        pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bands x JOIN bands y
            ON x.key = y.key AND x.b = y.b AND x.doc_id < y.doc_id),
        verified AS (SELECT
            len(list_filter(range(0,16), i -> sa.sig[i+1] = sb.sig[i+1]))
              / 16.0 AS est_jac,
            len(list_intersect(sa.sh, sb.sh)) * 1.0 /
              (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
              AS exact_jac
          FROM pairs
          JOIN sigs sa ON sa.doc_id = pairs.doc_a
          JOIN sigs sb ON sb.doc_id = pairs.doc_b)
        SELECT (SELECT count(*) FROM sigs) AS n_docs,
          (SELECT count(*) FROM buckets)::BIGINT AS n_buckets_multi,
          (SELECT count(*) FROM verified) AS n_candidate_pairs,
          (SELECT coalesce(sum(CASE WHEN exact_jac >= 0.7 THEN 1 ELSE 0 END), 0)
             FROM verified)::BIGINT AS n_dup_pairs,
          (SELECT round(coalesce(avg(est_jac), -1.0), 4) FROM verified)
            AS avg_est_jac,
          (SELECT round(coalesce(avg(exact_jac), -1.0), 4) FROM verified)
            AS avg_exact_jac"""),
      "MinHash(16)+LSH(4 bands x 4 rows) near-dup detection: signature in " +
        "one projection (no shuffle), band-bucket equi-join (the 100 TB " +
        "path — no pairwise cross join), exact-Jaccard verification of " +
        "candidates only."),

    GraftQuery(
      "q_dedup_index_probe", Seq("D1", "J11", "D9"),
      (s, dir) => {
        // PERSISTENT-DEDUP-INDEX surface (DedupIndex.membership +
        // probeBuckets) — the near-dup twin of q_sim_index_probe /
        // q_text_index_search: the corpus's band-bucket membership
        // table is the saved artifact (disk round-trip + frozen
        // geometry pinned in DedupIndexSpec), and probing a NEW batch
        // re-shingles only the batch and equi-joins the saved buckets
        // — never re-reads corpus text, never an all-pairs stage.
        // Fixture split: doc_id % 10 == 0 is the arriving batch, the
        // rest is the indexed corpus.
        import graft.operators.DedupIndex
        val g = DedupIndex.Geometry(w = 3, k = 16, bands = 4)
        val all = docs(s, dir)
        val shSig = TextOps.shinglesAndSignature(w = 3, k = 16)
        // the index membership and the full-corpus shingle table are
        // independent kernels over the same scan — materialize their
        // checkpoints from two driver threads (guide §2.6)
        val (idx, sh) = graft.operators.Par.concurrently(
          DedupIndex.membership(
              all.where(col("doc_id") % 10 =!= 0), "text", "doc_id", g)
            // the saved-artifact stand-in: consumed by the probe join
            // AND the membership counts
            .localCheckpoint(),
          all.withColumn("r", shSig(col("text")))
            .where(expr("size(r._1) >= 1"))
            .select(col("doc_id"), col("r._1").as("sh"))
            .localCheckpoint())
        val cand = DedupIndex.probeBuckets(idx,
          all.where(col("doc_id") % 10 === 0), "text", "doc_id", g)
        val verified = cand
          .join(sh.select(col("doc_id").as("new_id"),
            col("sh").as("sh_n")), Seq("new_id"))
          .join(sh.select(col("doc_id").as("corpus_id"),
            col("sh").as("sh_c")), Seq("corpus_id"))
          .selectExpr(
            "size(array_intersect(sh_n, sh_c)) / (size(sh_n) + " +
              "size(sh_c) - size(array_intersect(sh_n, sh_c))) " +
              "as exact_jac")
        idx.agg(
            countDistinct("doc_id").as("n_indexed_docs"),
            count(lit(1)).as("n_membership_rows"))
          .crossJoin(sh.where(col("doc_id") % 10 === 0)
            .agg(count(lit(1)).as("n_probed")))
          .crossJoin(verified.agg(
            count(lit(1)).as("n_candidate_pairs"),
            coalesce(sum(when(col("exact_jac") >= 0.7, 1L)
              .otherwise(0L)), lit(0L)).as("n_dup_pairs"),
            round(coalesce(avg("exact_jac"), lit(-1.0)), 4)
              .as("avg_exact_jac")))
      },
      Some(s"""WITH d AS (
          SELECT doc_id, $duckToks AS t FROM documents),
        s3 AS (SELECT doc_id,
            list_distinct(list_transform(range(1, len(t)-1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
          FROM d WHERE len(t) >= 3),
        sigs AS (SELECT doc_id, sh,
            list_transform(range(0, 16), s ->
              list_min(list_transform(sh, g ->
                (${dh("g")} & 2147483647) * (2 * s + 1)
                  + s * 2654435761))) AS sig
          FROM s3),
        cb AS (SELECT doc_id, b,
            md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS key
          FROM sigs, unnest([0,1,2,3]) AS u(b)
          WHERE doc_id % 10 != 0),
        bb AS (SELECT doc_id, b,
            md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS key
          FROM sigs, unnest([0,1,2,3]) AS u(b)
          WHERE doc_id % 10 = 0),
        cand AS (SELECT DISTINCT bb.doc_id AS new_id,
            cb.doc_id AS corpus_id
          FROM bb JOIN cb ON bb.b = cb.b AND bb.key = cb.key
            AND bb.doc_id != cb.doc_id),
        verified AS (SELECT
            len(list_intersect(sn.sh, sc.sh)) * 1.0 /
              (len(sn.sh) + len(sc.sh)
                - len(list_intersect(sn.sh, sc.sh))) AS exact_jac
          FROM cand
          JOIN sigs sn ON sn.doc_id = cand.new_id
          JOIN sigs sc ON sc.doc_id = cand.corpus_id)
        SELECT
          (SELECT count(DISTINCT doc_id) FROM cb) AS n_indexed_docs,
          (SELECT count(*) FROM cb)::BIGINT AS n_membership_rows,
          (SELECT count(*) FROM sigs WHERE doc_id % 10 = 0)
            AS n_probed,
          (SELECT count(*) FROM verified) AS n_candidate_pairs,
          (SELECT coalesce(sum(CASE WHEN exact_jac >= 0.7
             THEN 1 ELSE 0 END), 0) FROM verified)::BIGINT
            AS n_dup_pairs,
          (SELECT round(coalesce(avg(exact_jac), -1.0), 4)
             FROM verified) AS avg_exact_jac"""),
      "Persistent near-dup index probe: the corpus's saved band-bucket " +
        "membership is the dedup state; an arriving batch shingles " +
        "only itself and equi-joins the buckets, with exact-Jaccard " +
        "verification of the candidates."),

    GraftQuery(
      "q_dedup_cluster", Seq("D1", "D2", "E6"),
      (s, dir) => {
        // The clustering step AFTER LSH: docs sharing any minhash band
        // bucket are connected; connected components give transitive
        // dup clusters; the min doc_id is the canonical survivor. CC
        // runs over the (doc, band-bucket) MEMBERSHIP relation via
        // ConnectedComponents.byGroup — a hot bucket of k docs costs k
        // rows, never k^2/2 pairwise edges, so the shape survives at
        // 100 TB (see the operator's scaladoc for the hub trick).
        import graft.operators.ConnectedComponents
        val comp = ConnectedComponents.byGroup(
          dedupMembership(s, dir), "doc_id", "gkey")
        comp.groupBy("component")
          .agg(count(lit(1)).as("n_docs"),
            sort_array(collect_list(col("doc_id"))).as("ms"))
          .where(col("n_docs") >= 2)
          .select(col("component").as("canonical"), col("n_docs"),
            expr("md5(concat_ws(',', transform(ms, x -> cast(x as string))))")
              .as("members_fp"))
          .orderBy("canonical")
      },
      Some(s"""WITH RECURSIVE $duckDedupComp
        SELECT canonical, count(*) AS n_docs,
          md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS members_fp
        FROM comp GROUP BY 1 HAVING count(*) >= 2 ORDER BY 1"""),
      "Connected-components dedup clustering over minhash-LSH band " +
        "buckets: label propagation through bucket hub nodes (k rows " +
        "per hot bucket, never k^2 pairwise edges), min-id canonical " +
        "representative per transitive cluster."),

    GraftQuery(
      "q_dedup_sizedist", Seq("D1", "A8"),
      (s, dir) => {
        // Duplication-profile histogram — the "how duplicated is this
        // corpus" summary a dedup pass reports before anyone decides
        // thresholds: number of dup clusters and docs at each cluster
        // size, singletons included (docs with no band membership are
        // size-1 components by definition). Web-scale corpora follow
        // a long-tailed size distribution; the tail rows here are the
        // templated-boilerplate families the pipeline most wants to
        // see. Same CC machinery as q_dedup_cluster; two combining
        // aggregations after the label propagation, nothing else.
        import graft.operators.ConnectedComponents
        val comp = ConnectedComponents.byGroup(
          dedupMembership(s, dir), "doc_id", "gkey")
        docs(s, dir).select("doc_id")
          .join(comp, Seq("doc_id"), "left")
          .withColumn("component",
            coalesce(col("component"), col("doc_id")))
          .groupBy("component").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_components"))
          .withColumn("n_docs", expr("sz * n_components"))
          .select("sz", "n_components", "n_docs")
          .orderBy("sz")
      },
      Some(s"""WITH RECURSIVE $duckDedupComp,
          lbl AS (SELECT d0.doc_id,
              coalesce(comp.canonical, d0.doc_id) AS component
            FROM documents d0
            LEFT JOIN comp ON comp.doc_id = d0.doc_id),
          cs AS (SELECT component, count(*)::BIGINT AS sz
            FROM lbl GROUP BY 1)
        SELECT sz, count(*)::BIGINT AS n_components,
          (sz * count(*))::BIGINT AS n_docs
        FROM cs GROUP BY 1 ORDER BY 1"""),
      "Cluster-size histogram of the dedup pass (singletons " +
        "included): the duplication profile whose long tail names " +
        "the boilerplate families — two combining aggregations on " +
        "top of the shared CC labels."),

    GraftQuery(
      "q_dedup_survivors", Seq("D1", "D2", "A8"),
      (s, dir) => {
        // The KEEP step: after clustering, the corpus retains one doc
        // per component (the min-id canonical) plus every unclustered
        // doc. Per-language retention stats — what a training-data
        // pipeline reports after its dedup pass. Same CC machinery as
        // q_dedup_cluster; docs with no shingles (no band rows) are
        // singletons by definition and survive.
        import graft.operators.ConnectedComponents
        val all = docs(s, dir).select("doc_id", "lang")
        val comp = ConnectedComponents.byGroup(
          dedupMembership(s, dir), "doc_id", "gkey")
        val kept = all.join(comp, Seq("doc_id"), "left")
          .withColumn("keep",
            col("component").isNull || col("component") === col("doc_id"))
        kept.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"))
          .orderBy("lang")
      },
      Some(s"""WITH RECURSIVE $duckDedupComp,
        kept AS (SELECT d.lang,
            (comp.canonical IS NULL OR comp.canonical = d.doc_id) AS keep
          FROM d LEFT JOIN comp ON comp.doc_id = d.doc_id)
        SELECT lang, count(*) AS n_docs,
          sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
          sum(CASE WHEN NOT keep THEN 1 ELSE 0 END)::BIGINT AS n_dropped
        FROM kept GROUP BY 1 ORDER BY 1"""),
      "Dedup retention: keep the min-id canonical per near-dup " +
        "component plus all unclustered docs; per-language kept/dropped " +
        "counts — the report a pipeline emits after its dedup pass."),

    GraftQuery(
      "q_dedup_simhash", Seq("D1", "P10"),
      (s, dir) =>
        docs(s, dir)
          .withColumn("t", TextOps.tokens("text"))
          .withColumn("sim", TextOps.simhash("t", bits = 16))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct("sim").as("n_distinct"),
            (count(lit(1)) - countDistinct("sim")).as("n_collisions"),
            min("sim").as("min_sim"),
            max("sim").as("max_sim"))
          .orderBy("lang"),
      Some(s"""WITH d AS (SELECT lang, $duckToks AS t FROM documents),
          m AS (SELECT lang,
            list_sum(list_transform(range(0, 16), b ->
              CASE WHEN list_sum(list_transform(t, tok ->
                  ((${dh("tok")} >> b) & 1) * 2 - 1)) > 0
                THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS sim
          FROM d)
        SELECT lang, count(*) AS n_docs,
          count(DISTINCT sim) AS n_distinct,
          count(*) - count(DISTINCT sim) AS n_collisions,
          min(sim) AS min_sim, max(sim) AS max_sim
        FROM m GROUP BY 1 ORDER BY 1"""),
      "16-bit SimHash (term-frequency weights) computed as one nested " +
        "array-aggregate expression; per-lang collision stats."),

    GraftQuery(
      "q_dedup_simhash_hamming", Seq("D1", "P10", "J11"),
      (s, dir) => {
        // The PAIR-FINDING step for SimHash dedup: 32-bit simhash split
        // into 4 byte-bands; candidates share >= 1 band (by pigeonhole
        // this is LOSSLESS for hamming distance <= 3 — 3 flipped bits
        // cannot touch all 4 bands), then the exact distance
        // bit_count(sim_a ^ sim_b) verifies. The self-join runs on the
        // skinny (bkey, doc_id, sim) projection; band keys are offset
        // by the band id so one equi-join column covers all bands. The
        // simhash is materialized first — an interpreted HOF must never
        // be re-inlined into both sides of its own self-join.
        val base = docs(s, dir)
          .withColumn("t", TextOps.tokens("text"))
          .where(expr("size(t) > 0"))
          // compiled kernel: one md5 per token (the expression form
          // hashes per token PER BIT — 32x the md5 work at 32 bits)
          .withColumn("sim", TextOps.simhashCompiled(32)(col("t")))
          .select("doc_id", "sim")
          .localCheckpoint(eager = false)
        val bands = base.select(col("doc_id"), col("sim"),
            explode(expr("sequence(0, 3)")).as("b"))
          .withColumn("bkey", expr("shiftleft(cast(b as bigint), 8) + " +
            "(shiftright(sim, cast(b * 8 as int)) & 255)"))
          .select("doc_id", "sim", "bkey")
        val pairs = bands.as("x").join(bands.as("y"),
            col("x.bkey") === col("y.bkey") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            col("x.sim").as("sim_a"), col("y.sim").as("sim_b"))
          .distinct()
          .withColumn("ham",
            expr("cast(bit_count(sim_a ^ sim_b) as bigint)"))
          .where(col("ham") <= 3)
        pairs.groupBy("ham")
          .agg(count(lit(1)).as("n_pairs"),
            min(col("doc_a") * 1000000 + col("doc_b")).as("min_pair"))
          .orderBy("ham")
      },
      Some(s"""WITH d AS (SELECT doc_id, $duckToks AS t FROM documents
            WHERE len($duckToks) > 0),
          m AS (SELECT doc_id,
            list_sum(list_transform(range(0, 32), b ->
              CASE WHEN list_sum(list_transform(t, tok ->
                  ((${dh("tok")} >> b) & 1) * 2 - 1)) > 0
                THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS sim
          FROM d),
          bands AS (SELECT doc_id, sim,
            (b::BIGINT << 8) + ((sim >> (b * 8)) & 255) AS bkey
          FROM m, unnest([0,1,2,3]) AS u(b)),
          pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
              x.sim AS sim_a, y.sim AS sim_b
            FROM bands x JOIN bands y ON x.bkey = y.bkey
              AND x.doc_id < y.doc_id),
          h AS (SELECT doc_a, doc_b,
              bit_count(xor(sim_a, sim_b))::BIGINT AS ham FROM pairs)
        SELECT ham, count(*) AS n_pairs,
          min(doc_a * 1000000 + doc_b) AS min_pair
        FROM h WHERE ham <= 3 GROUP BY 1 ORDER BY 1"""),
      "SimHash near-dup PAIRS: 4 byte-bands over a 32-bit sketch " +
        "(lossless for hamming <= 3), skinny band equi-join candidates, " +
        "exact popcount-xor verification."),

    GraftQuery(
      "q_dedup_ngram", Seq("D1", "J11", "J6"),
      (s, dir) => {
        // EXACT word-trigram Jaccard self-join at τ = 0.5 via the
        // SSJoin PREFIX FILTER (Chaudhuri et al. ICDE 2006 / PPJoin) —
        // the same lossless bound q_text_containment uses, replacing
        // the earlier (lang, length-band) blocking whose one-language
        // band held O(n) docs and went quadratic at scale. Bound:
        // J(A,B) ≥ τ forces |A∩B| ≥ ⌈τ·max(n_a, n_b)⌉, so with every
        // doc's bigrams sorted by ONE global (df, fp) order the FIRST
        // shared token of a qualifying pair must land within BOTH
        // prefixes of length n − ⌈τn⌉ + 1 — only the globally rarest
        // half(+1) of each doc's trigrams seed candidates, and
        // candidate volume tracks token rarity, not corpus size
        // (trigrams, not bigrams: on a small shared vocabulary bigram
        // df stays high corpus-wide and the rare-half prefix stops
        // pruning — measured 5.5M candidate pairs vs 310k at sf0.1).
        // Trigrams are HASHED to 60-bit longs first: the shuffles move
        // 8-byte array elements and the verify pass intersects longs
        // (the oracle recomputes identical hashes). Verdict is
        // cross-multiplied (3·ov ≥ n_a + n_b ⟺ jac ≥ 0.5): the gate
        // is integer-exact; the displayed jac divides once.
        ngramDupPairs(s, dir)
          .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
            col("overlap"),
            round(col("overlap").cast("double") /
              (col("n_a") + col("n_b") - col("overlap")), 6).as("jac"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH d AS (SELECT doc_id, $duckToks AS t FROM documents),
          s2 AS (SELECT doc_id,
              list_distinct(list_transform(range(1, len(t) - 1),
                i -> ${dh("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")}))
                AS sh
            FROM d WHERE len(t) >= 3),
          f AS (SELECT doc_id, unnest(sh) AS fp FROM s2),
          sz AS (SELECT doc_id, len(sh)::BIGINT AS n FROM s2),
          ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              count(*)::BIGINT AS overlap
            FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT ov.doc_a, ov.doc_b, sa.n AS n_a, sb.n AS n_b, ov.overlap,
          round(ov.overlap::DOUBLE / (sa.n + sb.n - ov.overlap), 6)
            AS jac
        FROM ov
        JOIN sz sa ON sa.doc_id = ov.doc_a
        JOIN sz sb ON sb.doc_id = ov.doc_b
        WHERE 3 * ov.overlap >= sa.n + sb.n
        ORDER BY 1, 2"""),
      "Word-trigram Jaccard near-dup join at τ=0.5, exact via the " +
        "lossless SSJoin rare-prefix bound + length filter: only each " +
        "doc's rarest ~half of trigrams seed candidates, overlap " +
        "verified integer-exactly on candidate pairs only — no " +
        "blocking key ever goes quadratic in corpus size."),

    GraftQuery(
      "q_dedup_recall", Seq("D1", "A9", "J11"),
      (s, dir) => {
        // MEASURED recall audit of the minhash-LSH banding geometry
        // (w=3, k=16, 4 bands × r=4 — dedupMembership, the geometry
        // q_dedup_cluster/survivors and the corpus pipeline actually
        // run) against EXACT trigram-Jaccard ≥ 0.5 ground truth (the
        // q_dedup_recall twin of the q_sim_recall* family: dedup
        // configs deserve the same honesty as ANN configs). Truth is
        // the shared ngramDupPairs plan, so the audit pins the very
        // pair set the ngram gate verifies. A true pair is CAUGHT iff
        // its two docs share at least one band bucket — checked by
        // joining the 4-row/doc membership through the pair list
        // (keyed equi-joins on bounded frames), never by enumerating
        // LSH candidate pairs. Bucket workload is reported as
        // Σ C(size, 2) candidate slots straight off the bucket-size
        // aggregation — the join work the CC stage faces — plus the
        // max bucket, the skew number that decides whether a hub
        // bucket needs salting at 100 TB.
        // truth (exact ngram pair set) and mem (LSH membership) are
        // independent pipelines over the same corpus scan — their
        // eager checkpoints materialize from two driver threads
        // (guide §2.6), trimming the sequential-materialization tail
        val (truth, mem) = graft.operators.Par.concurrently(
          ngramDupPairs(s, dir)
            .select("doc_a", "doc_b").localCheckpoint(),
          dedupMembership(s, dir).localCheckpoint())
        val caught = truth
          .join(mem.toDF("doc_a", "gkey"), Seq("doc_a"))
          .join(mem.toDF("doc_b", "gkey"), Seq("doc_b", "gkey"))
          .select("doc_a", "doc_b").distinct()
        val nTrue = truth.agg(count(lit(1)).as("n_true"))
        val nCaught = caught.agg(count(lit(1)).as("n_caught"))
        val buckets = mem.groupBy("gkey")
          .agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_buckets"),
            max("sz").as("max_bucket"),
            sum(expr("sz * (sz - 1) div 2")).as("cand_slots"))
        nTrue.crossJoin(nCaught).crossJoin(buckets)
          .withColumn("recall_ppm",
            expr("n_caught * 1000000 div greatest(n_true, 1)"))
          .select("n_true", "n_caught", "recall_ppm", "n_buckets",
            "max_bucket", "cand_slots")
      },
      Some(s"""WITH RECURSIVE
          td AS (SELECT doc_id, $duckToks AS t FROM documents),
          ts2 AS (SELECT doc_id,
              list_distinct(list_transform(range(1, len(t) - 1),
                i -> ${dh("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")}))
                AS sh
            FROM td WHERE len(t) >= 3),
          tf AS (SELECT doc_id, unnest(sh) AS fp FROM ts2),
          tsz AS (SELECT doc_id, len(sh)::BIGINT AS n FROM ts2),
          tov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              count(*)::BIGINT AS overlap
            FROM tf a JOIN tf b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          truth AS (SELECT tov.doc_a, tov.doc_b FROM tov
            JOIN tsz sa ON sa.doc_id = tov.doc_a
            JOIN tsz sb ON sb.doc_id = tov.doc_b
            WHERE 3 * tov.overlap >= sa.n + sb.n),
          ${duckDedupCompFrom("documents")},
          caught AS (SELECT DISTINCT t.doc_a, t.doc_b FROM truth t
            JOIN bands xa ON xa.doc_id = t.doc_a
            JOIN bands xb ON xb.doc_id = t.doc_b
              AND xb.b = xa.b AND xb.key = xa.key),
          bk AS (SELECT b, key, count(*)::BIGINT AS sz
            FROM bands GROUP BY 1, 2),
          agg AS (SELECT count(*)::BIGINT AS n_buckets,
              max(sz)::BIGINT AS max_bucket,
              sum(sz * (sz - 1) // 2)::BIGINT AS cand_slots FROM bk),
          tc AS (SELECT count(*)::BIGINT AS n_true FROM truth),
          cc AS (SELECT count(*)::BIGINT AS n_caught FROM caught)
        SELECT tc.n_true, cc.n_caught,
          (cc.n_caught * 1000000 // greatest(tc.n_true, 1))::BIGINT
            AS recall_ppm,
          agg.n_buckets, agg.max_bucket, agg.cand_slots
        FROM tc, cc, agg"""),
      "Measured LSH dedup recall: exact trigram-Jaccard truth " +
        "(shared ngramDupPairs) vs the production banding geometry, " +
        "caught-pair check via keyed membership joins (no candidate " +
        "enumeration), bucket workload + skew straight off the " +
        "bucket-size aggregation."),

    GraftQuery(
      "q_dedup_minhash_err", Seq("A9", "J11", "D1"),
      (s, dir) => {
        // MinHash ESTIMATOR-error audit — the statistical companion
        // to q_dedup_recall: on the exact ≥0.5-Jaccard pair set, how
        // far does the k=16 signature's agreement fraction sit from
        // the true Jaccard it estimates? (E[matches/k] = J; the audit
        // measures the realized error of the production k, the number
        // that justifies — or indicts — the signature width.) Both
        // quantities leave division-land as exact 1e6-scaled integer
        // floors, so the error stats carry no float-summation hazard.
        // Scale shape: truth pairs are the bounded ngramDupPairs set;
        // signatures join through the pair list by doc id — keyed
        // equi-joins, one final 1-row aggregation, no pair
        // enumeration beyond truth itself.
        val shSig = TextOps.shinglesAndSignature(w = 3, k = 16)
        // the signature table and the exact-truth pipeline (whose
        // internal base/ranked checkpoints materialize eagerly at call
        // time) are independent — run both from two driver threads
        val (sigs, truthPairs) = graft.operators.Par.concurrently(
          docs(s, dir)
            .withColumn("r", shSig(col("text")))
            .where(expr("size(r._1) >= 1"))
            .select(col("doc_id"), col("r._2").as("sig"))
            .localCheckpoint(),
          ngramDupPairs(s, dir))
        truthPairs
          .join(sigs.toDF("doc_a", "sig_a"), Seq("doc_a"))
          .join(sigs.toDF("doc_b", "sig_b"), Seq("doc_b"))
          .withColumn("est16", expr(
            "aggregate(zip_with(sig_a, sig_b, " +
              "(x, y) -> IF(x = y, 1L, 0L)), 0L, (a, x) -> a + x)"))
          .withColumn("jac6",
            expr("overlap * 1000000 div (n_a + n_b - overlap)"))
          .withColumn("est6", expr("est16 * 1000000 div 16"))
          .withColumn("err6", abs(col("est6") - col("jac6")))
          .agg(count(lit(1)).as("n_pairs"),
            sum("err6").as("sum_err6"), max("err6").as("max_err6"))
          .withColumn("mean_err6",
            expr("sum_err6 div greatest(n_pairs, 1)"))
          .select("n_pairs", "mean_err6", "max_err6", "sum_err6")
      },
      Some(s"""WITH td AS (SELECT doc_id, $duckToks AS t
              FROM documents),
          ts2 AS (SELECT doc_id,
              list_distinct(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
            FROM td WHERE len(t) >= 3),
          tsg AS (SELECT doc_id,
              list_transform(g, x -> ${dh("x")}) AS sh,
              list_transform(range(0, 16), s ->
                list_min(list_transform(g, x ->
                  (${dh("x")} & 2147483647) * (2 * s + 1)
                    + s * 2654435761))) AS sig
            FROM ts2),
          tf AS (SELECT doc_id, unnest(sh) AS fp FROM tsg),
          tsz AS (SELECT doc_id, len(list_distinct(sh))::BIGINT AS n
            FROM tsg),
          tov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              count(DISTINCT a.fp)::BIGINT AS overlap
            FROM tf a JOIN tf b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          truth AS (SELECT tov.doc_a, tov.doc_b, sa.n AS n_a,
              sb.n AS n_b, tov.overlap FROM tov
            JOIN tsz sa ON sa.doc_id = tov.doc_a
            JOIN tsz sb ON sb.doc_id = tov.doc_b
            WHERE 3 * tov.overlap >= sa.n + sb.n),
          e AS (SELECT t.*, list_sum(list_transform(range(1, 17),
                i -> CASE WHEN xa.sig[i] = xb.sig[i]
                  THEN 1 ELSE 0 END))::BIGINT AS est16
            FROM truth t
            JOIN tsg xa ON xa.doc_id = t.doc_a
            JOIN tsg xb ON xb.doc_id = t.doc_b),
          p AS (SELECT est16 * 1000000 // 16 AS est6,
              overlap * 1000000 // (n_a + n_b - overlap) AS jac6
            FROM e)
        SELECT count(*)::BIGINT AS n_pairs,
          (sum(abs(est6 - jac6)) //
            greatest(count(*), 1))::BIGINT AS mean_err6,
          max(abs(est6 - jac6))::BIGINT AS max_err6,
          sum(abs(est6 - jac6))::BIGINT AS sum_err6
        FROM p"""),
      "MinHash estimator-error audit on the exact near-dup pair set: " +
        "signature agreement (est = matches/16) vs true Jaccard as " +
        "exact 1e6-integers — the realized error of the production " +
        "signature width, via keyed joins only."),

    GraftQuery(
      "q_dedup_split_leak", Seq("D1", "J7", "A8"),
      (s, dir) => {
        // Split-leakage audit — the check that makes a train/val/test
        // split TRUSTWORTHY: a near-duplicate pair whose two docs
        // land in different splits leaks the held-out answer into
        // training even though no doc crosses splits by id. Truth is
        // the exact trigram-Jaccard ≥ 0.5 pair set (shared
        // ngramDupPairs); split membership is the q_pipeline_split
        // hash rule verbatim, with the src0 benchmark labeled 'eval'
        // (an eval×train row here is benchmark contamination that
        // id-level hygiene can never see). Output: pair counts per
        // unordered split combination — the off-diagonal rows are
        // the leaks. Keyed joins through the bounded pair list only.
        val h = expr(TextOps.hash64("cast(doc_id as string)"))
        val splits = docs(s, dir)
          .withColumn("b", h % 100)
          .withColumn("split",
            when(col("source") === "src0", "eval")
              .when(col("b") < 90, "train")
              .when(col("b") < 95, "val")
              .otherwise("test"))
          .select("doc_id", "split")
        ngramDupPairs(s, dir)
          .join(splits.toDF("doc_a", "sa"), Seq("doc_a"))
          .join(splits.toDF("doc_b", "sb"), Seq("doc_b"))
          .withColumn("split_lo", least(col("sa"), col("sb")))
          .withColumn("split_hi", greatest(col("sa"), col("sb")))
          .groupBy("split_lo", "split_hi")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("split_lo", "split_hi")
      },
      Some(s"""WITH td AS (SELECT doc_id, $duckToks AS t
              FROM documents),
          ts2 AS (SELECT doc_id,
              list_distinct(list_transform(range(1, len(t) - 1),
                i -> ${dh("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")}))
                AS sh
            FROM td WHERE len(t) >= 3),
          tf AS (SELECT doc_id, unnest(sh) AS fp FROM ts2),
          tsz AS (SELECT doc_id, len(sh)::BIGINT AS n FROM ts2),
          tov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              count(*)::BIGINT AS overlap
            FROM tf a JOIN tf b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          truth AS (SELECT tov.doc_a, tov.doc_b FROM tov
            JOIN tsz sa ON sa.doc_id = tov.doc_a
            JOIN tsz sb ON sb.doc_id = tov.doc_b
            WHERE 3 * tov.overlap >= sa.n + sb.n),
          sp AS (SELECT doc_id,
              CASE WHEN source = 'src0' THEN 'eval'
                WHEN ${dh("doc_id::VARCHAR")} % 100 < 90 THEN 'train'
                WHEN ${dh("doc_id::VARCHAR")} % 100 < 95 THEN 'val'
                ELSE 'test' END AS split
            FROM documents)
        SELECT least(xa.split, xb.split) AS split_lo,
          greatest(xa.split, xb.split) AS split_hi,
          count(*)::BIGINT AS n_pairs
        FROM truth t
        JOIN sp xa ON xa.doc_id = t.doc_a
        JOIN sp xb ON xb.doc_id = t.doc_b
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      "Split-leakage audit: exact near-dup pairs classified by the " +
        "unordered split combination of their endpoints (benchmark " +
        "src0 = 'eval') — the off-diagonal counts are answers " +
        "leaking across train/val/test that id-level split hygiene " +
        "cannot detect."),

    GraftQuery(
      "q_pipeline_corpus", Seq("W2", "D1", "D2", "J7", "D9", "A8"),
      // body + stage semantics documented on corpusPipeline (shared
      // with PlanAuditSpec, which composes it un-checkpointed to
      // assert stage 1 never plans a per-language window sort)
      (s, dir) => corpusPipeline(s, dir, _.localCheckpoint(eager = false)),
      Some(s"""WITH RECURSIVE
          $duckCorpusChainToQ3,
          szd AS (SELECT q3.doc_id, q3.lang, len($duckToks)::BIGINT
              AS n_tok
            FROM q3 JOIN q2 ON q2.doc_id = q3.doc_id),
          c AS (SELECT doc_id, lang, n_tok,
              coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS cum_before
            FROM szd),
          pk AS (SELECT lang,
              count(DISTINCT cum_before // 512) AS n_packs,
              sum(n_tok)::BIGINT AS sum_tokens FROM c GROUP BY 1),
          ci AS (SELECT lang, count(*) AS n_input FROM corpus0 GROUP BY 1),
          cm AS (SELECT lang, sum(nmask)::BIGINT AS n_masked
            FROM corpus0 GROUP BY 1),
          c1 AS (SELECT lang, count(*) AS nq1 FROM q1 GROUP BY 1),
          c2 AS (SELECT lang, count(*) AS nq2 FROM q2 GROUP BY 1),
          c3 AS (SELECT lang, count(*) AS nq3 FROM q3 GROUP BY 1)
        SELECT ci.lang, ci.n_input,
          coalesce(cm.n_masked, 0)::BIGINT AS n_masked,
          coalesce(c1.nq1, 0)::BIGINT AS n_quality,
          coalesce(c2.nq2, 0)::BIGINT AS n_dedup,
          coalesce(c3.nq3, 0)::BIGINT AS n_clean,
          coalesce(pk.n_packs, 0)::BIGINT AS n_packs,
          coalesce(pk.sum_tokens, 0)::BIGINT AS sum_tokens
        FROM ci LEFT JOIN cm ON cm.lang = ci.lang
          LEFT JOIN c1 ON c1.lang = ci.lang
          LEFT JOIN c2 ON c2.lang = ci.lang
          LEFT JOIN c3 ON c3.lang = ci.lang
          LEFT JOIN pk ON pk.lang = ci.lang
        ORDER BY 1"""),
      "End-to-end corpus build as one plan: PII + blocklist scrub " +
        "(shared scrubProjection — what ships is what was checked) -> " +
        "per-lang GK-sketch quality-decile filter (broadcast cut " +
        "points, no per-language window sort; drop bottom 20%) -> CC " +
        "near-dup dedup keeping canonical survivors -> winnow " +
        "decontamination vs the eval source (drop ratio >= 0.75) -> " +
        "512-token sequence packing via the two-phase prefix scan; " +
        "per-stage survivor + masked-token counts per language so " +
        "regressions localize to their stage."),

    GraftQuery(
      "q_pipeline_provenance", Seq("D6", "J7", "A8"),
      (s, dir) => {
        // Doc-level drop attribution for the corpus build —
        // q_pipeline_corpus says how many docs each stage kept; this
        // says, for EVERY input document, which stage rejected it and
        // why: 'unscorable' (zero tokens after scrub), 'quality'
        // (bottom-two deciles), 'near_dup' (non-canonical cluster
        // member), 'contaminated' (winnow overlap >= 0.75), or
        // 'kept'. The audit trail a data-governance review asks for
        // ("show me what the pipeline deleted and under which rule"),
        // summarized per (lang, verdict) with a reproducible example
        // doc id. Shares corpusStages verbatim, so the attribution
        // CANNOT drift from the pipeline it explains.
        //
        // Scale shape: each stage frame is already checkpointed by
        // the pipeline; the stages are NESTED (q3 ⊆ q2 ⊆ q1 ⊆ scored
        // ⊆ corpus), so the deepest stage a doc reached is max(rank)
        // over a UNION of the skinny id frames — one aggregation plus
        // ONE doc_id equi-join instead of four chained left joins
        // (round-16 plan pass: 4 join shuffles -> union + agg + join,
        // and no O(corpus) broadcast either way).
        val st = corpusStages(s, dir, _.localCheckpoint(eager = false))
        val deepest = Seq(st.scored -> 1, st.q1 -> 2, st.q2 -> 3,
            st.q3 -> 4)
          .map { case (df, r) =>
            df.select(col("doc_id"), lit(r).as("r")) }
          .reduce(_ unionByName _)
          .groupBy("doc_id").agg(max("r").as("r"))
        st.corpus.select("doc_id", "lang")
          .join(deepest, Seq("doc_id"), "left")
          .withColumn("verdict",
            when(col("r") === 4, "kept")
              .when(col("r") === 3, "contaminated")
              .when(col("r") === 2, "near_dup")
              .when(col("r") === 1, "quality")
              .otherwise("unscorable"))
          .groupBy("lang", "verdict")
          .agg(count(lit(1)).as("n_docs"),
            min("doc_id").as("example_doc"))
          .orderBy("lang", "verdict")
      },
      Some(s"""WITH RECURSIVE
          $duckCorpusChainToQ3
        SELECT c0.lang,
          CASE WHEN q3.doc_id IS NOT NULL THEN 'kept'
               WHEN q2.doc_id IS NOT NULL THEN 'contaminated'
               WHEN q1.doc_id IS NOT NULL THEN 'near_dup'
               WHEN mq.doc_id IS NOT NULL THEN 'quality'
               ELSE 'unscorable' END AS verdict,
          count(*)::BIGINT AS n_docs,
          min(c0.doc_id) AS example_doc
        FROM corpus0 c0
        LEFT JOIN mq ON mq.doc_id = c0.doc_id
        LEFT JOIN q1 ON q1.doc_id = c0.doc_id
        LEFT JOIN q2 ON q2.doc_id = c0.doc_id
        LEFT JOIN q3 ON q3.doc_id = c0.doc_id
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      "Per-document drop attribution over the corpus pipeline: " +
        "which stage rejected each doc and under which rule, " +
        "summarized per (lang, verdict) with example ids — three " +
        "skinny equi-joins over the checkpointed stage frames, the " +
        "governance audit trail of the corpus build."),

    GraftQuery(
      "q_text_spans", Seq("P10", "D1", "J7"),
      (s, dir) => {
        // SPAN-LEVEL decontamination — q_text_contamination says how
        // MUCH of a doc overlaps the eval set; this says WHERE: each
        // winnowed fingerprint keeps its char position (positional
        // winnow, leftmost-min tie rule), matched fingerprints map to
        // the [pos, pos + 7] char intervals they cover, and intervals
        // merge when they overlap or touch (gap rule: a new span
        // starts iff the next position exceeds prev + 8). Per-doc
        // output: matched-position count, merged span count, total
        // covered chars — the locations an exact-substring REMOVAL
        // pass (Lee et al., "Deduplicating Training Data Makes
        // Language Models Better") would cut. Same scale shape as
        // q_text_contamination: eval fps distinct + broadcast, one fp
        // equi-join on the corpus's skinny (doc, pos, fp) explode,
        // merge math per doc over its own sorted positions (array
        // expressions — no window, no doc x doc).
        val all = docs(s, dir)
        val corpus = all.where(col("source") =!= "src0")
          .withColumn("wp",
            TextOps.winnowPositionsCompiled(8, 11)(col("text")))
          .where(size(col("wp")) > 0)
          .select(col("doc_id"), col("lang"),
            explode(col("wp")).as("w"))
          .select(col("doc_id"), col("lang"),
            col("w._1").as("pos"), col("w._2").as("fp"))
        val evalFps = all.where(col("source") === "src0")
          .withColumn("win", TextOps.winnowCompiled(8, 11)(col("text")))
          .select(explode(col("win")).as("fp")).distinct()
        corpus.join(broadcast(evalFps), Seq("fp"))
          .groupBy("doc_id", "lang")
          .agg(sort_array(collect_list(col("pos"))).as("ps"))
          .withColumn("deltas", expr(
            "if(size(ps) <= 1, cast(array() as array<int>), " +
              "transform(sequence(2, size(ps)), " +
              "i -> element_at(ps, i) - element_at(ps, i - 1)))"))
          .select(col("doc_id"), col("lang"),
            expr("cast(size(ps) as bigint)").as("n_matched"),
            expr("cast(1 + size(filter(deltas, d -> d > 8)) as bigint)")
              .as("n_spans"),
            expr("cast(8 + aggregate(deltas, 0, " +
              "(a, d) -> a + least(d, 8)) as bigint)").as("covered_chars"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ga AS (SELECT doc_id, lang,
            CASE WHEN len(text) >= 8 THEN
              list_transform(range(1, len(text) - 6),
                i -> ${dh("substr(text, i, 8)")})
            ELSE []::BIGINT[] END AS gh
          FROM documents WHERE source != 'src0'),
          wp AS (SELECT doc_id, lang, gh,
            CASE WHEN len(gh) >= 4 THEN
              list_distinct(list_transform(range(1, len(gh) - 2),
                j -> j - 1 + list_position(gh[j:j+3],
                  list_min(gh[j:j+3]))))
            ELSE []::INT[] END AS poss
          FROM ga),
          ev AS (SELECT doc_id, lang, source, text FROM documents
            WHERE source = 'src0'),
          ${duckWinnowFrom("ev", "ge", "we")},
          e AS (SELECT DISTINCT unnest(win) AS fp FROM we),
          cp AS (SELECT doc_id, lang, gh, unnest(poss) AS pos FROM wp),
          cf AS (SELECT doc_id, lang, pos, gh[pos] AS fp FROM cp),
          mt AS (SELECT cf.doc_id, cf.lang, cf.pos
            FROM cf JOIN e ON cf.fp = e.fp),
          ag AS (SELECT doc_id, lang, count(*)::BIGINT AS n_matched,
              list_sort(list(pos)) AS ps
            FROM mt GROUP BY 1, 2),
          sp AS (SELECT doc_id, lang, n_matched,
              list_transform(range(2, len(ps) + 1),
                i -> ps[i] - ps[i-1]) AS deltas
            FROM ag)
        SELECT doc_id, lang, n_matched,
          (1 + len(list_filter(deltas, d -> d > 8)))::BIGINT AS n_spans,
          (8 + coalesce(list_sum(list_transform(deltas,
            d -> least(d, 8))), 0))::BIGINT AS covered_chars
        FROM sp ORDER BY doc_id"""),
      "Span-level decontamination: positional winnowing maps each " +
        "matched eval fingerprint to the [pos, pos+7] chars it covers; " +
        "overlapping/touching intervals merge into spans (new span iff " +
        "gap > 8). Per-doc matched positions, merged span count, and " +
        "covered chars — the cut list for exact-substring removal."),

    GraftQuery(
      "q_text_clean", Seq("P10", "D1", "J7"),
      (s, dir) => {
        // Exact-substring REMOVAL — completes the Lee-et-al loop from
        // q_text_spans: where spans REPORTS the merged contaminated
        // [pos, pos+7] intervals, this CUTS them, emitting the
        // decontaminated text for every corpus doc (docs with no eval
        // overlap pass through unchanged). Same scale shape: eval fps
        // distinct + broadcast, one fp equi-join on the corpus's
        // skinny (doc, pos) explode, then a single left fold over each
        // doc's own sorted positions builds the kept text in one pass
        // (`aggregate` expression, state = (out, next-uncovered-char):
        // emit text[cur, p-1] when a match starts past cur, advance
        // cur to max(cur, p + 8)) — no window, no doc x doc, and the
        // doc body is scanned once.
        val all = docs(s, dir)
        val corpus = all.where(col("source") =!= "src0")
        val matched = corpus
          .withColumn("wp",
            TextOps.winnowPositionsCompiled(8, 11)(col("text")))
          .where(size(col("wp")) > 0)
          .select(col("doc_id"), explode(col("wp")).as("w"))
          .select(col("doc_id"),
            col("w._1").as("pos"), col("w._2").as("fp"))
        val evalFps = all.where(col("source") === "src0")
          .withColumn("win", TextOps.winnowCompiled(8, 11)(col("text")))
          .select(explode(col("win")).as("fp")).distinct()
        val spans = matched.join(broadcast(evalFps), Seq("fp"))
          .groupBy("doc_id")
          .agg(sort_array(collect_list(col("pos"))).as("ps"))
        corpus.join(spans, Seq("doc_id"), "left")
          .withColumn("cleaned", TextOps.removeSpans("text", "ps", 8))
          .select(col("doc_id"), col("lang"),
            expr("cast(coalesce(size(ps), 0) as bigint)").as("n_matched"),
            expr("cast(length(text) - length(cleaned) as bigint)")
              .as("removed_chars"),
            col("cleaned"))
          .orderBy("doc_id")
      },
      Some(s"""WITH corpus AS (SELECT doc_id, lang, text FROM documents
            WHERE source != 'src0'),
          ga AS (SELECT doc_id,
              CASE WHEN len(text) >= 8 THEN
                list_transform(range(1, len(text) - 6),
                  i -> ${dh("substr(text, i, 8)")})
              ELSE []::BIGINT[] END AS gh
            FROM corpus),
          wp AS (SELECT doc_id, gh,
              CASE WHEN len(gh) >= 4 THEN
                list_distinct(list_transform(range(1, len(gh) - 2),
                  j -> j - 1 + list_position(gh[j:j+3],
                    list_min(gh[j:j+3]))))
              ELSE []::INT[] END AS poss
            FROM ga),
          ev AS (SELECT doc_id, lang, source, text FROM documents
            WHERE source = 'src0'),
          ${duckWinnowFrom("ev", "ge", "we")},
          e AS (SELECT DISTINCT unnest(win) AS fp FROM we),
          cp AS (SELECT doc_id, gh, unnest(poss) AS pos FROM wp),
          cf AS (SELECT doc_id, pos, gh[pos] AS fp FROM cp),
          mt AS (SELECT cf.doc_id, cf.pos FROM cf
            JOIN e ON cf.fp = e.fp),
          gr AS (SELECT doc_id, pos,
              CASE WHEN pos - lag(pos) OVER
                (PARTITION BY doc_id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS brk
            FROM mt),
          g2 AS (SELECT doc_id, pos,
              sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
            FROM gr),
          sp AS (SELECT doc_id, grp, min(pos) AS s,
              max(pos) + 7 AS e, count(*) AS nm
            FROM g2 GROUP BY 1, 2),
          sg AS (SELECT doc_id, s, e, nm,
              coalesce(lag(e) OVER
                (PARTITION BY doc_id ORDER BY s), 0) AS pe
            FROM sp),
          agg AS (SELECT sg.doc_id,
              string_agg(substr(c.text, sg.pe + 1, sg.s - sg.pe - 1),
                '' ORDER BY sg.s) AS head,
              max(sg.e) AS maxe, sum(sg.nm)::BIGINT AS n_matched
            FROM sg JOIN corpus c ON c.doc_id = sg.doc_id GROUP BY 1)
        SELECT c.doc_id, c.lang,
          coalesce(a.n_matched, 0)::BIGINT AS n_matched,
          (len(c.text) - len(CASE WHEN a.doc_id IS NULL THEN c.text
            ELSE coalesce(a.head, '') || substr(c.text, a.maxe + 1)
            END))::BIGINT AS removed_chars,
          CASE WHEN a.doc_id IS NULL THEN c.text
            ELSE coalesce(a.head, '') || substr(c.text, a.maxe + 1)
          END AS cleaned
        FROM corpus c LEFT JOIN agg a ON a.doc_id = c.doc_id
        ORDER BY c.doc_id"""),
      "Exact-substring removal (Lee et al., \"Deduplicating Training " +
        "Data Makes Language Models Better\"): cut the merged " +
        "contaminated spans q_text_spans reports and emit the " +
        "decontaminated text per doc; unmatched docs pass through " +
        "verbatim, so removed_chars doubles as a whole-corpus " +
        "contamination audit."),

    GraftQuery(
      "q_text_bm25", Seq("P9", "A8", "W3"),
      (s, dir) =>
        // Okapi BM25 (k1=1.2, b=0.75) of every doc against a small
        // query-term set — the retrieval-style ranking TF-IDF
        // (q_text_tfidf) approximates. Scoring lives in [[bm25Scored]]
        // (shared with the hybrid-fusion query). Float discipline: each
        // per-term score is scaled to an exact 1e-4 integer BEFORE the
        // per-doc sum, so the sum is order-independent (a raw double
        // sum over 2-3 terms can round differently under different
        // reduce orders); the display score is one exact int/1e4
        // division.
        bm25Scored(s, dir)
          .select(col("doc_id"), col("lang"), col("dl"),
            col("n_terms"), (col("s4") / 10000.0).as("bm25"))
          .orderBy("doc_id"),
      Some(s"""WITH $duckBm25
        SELECT doc_id, lang, dl, n_terms, s4 / 10000.0 AS bm25
        FROM bm ORDER BY doc_id"""),
      "Okapi BM25 retrieval scoring against broadcast query terms: " +
        "per-term scores scaled to exact 1e-4 integers before the " +
        "per-doc sum (order-independent), one exact division for " +
        "display; tf explode pruned by the broadcast term join."),

    GraftQuery(
      "q_text_perplexity", Seq("A8", "J11", "W3"),
      (s, dir) => {
        // CCNet-style LM quality scoring (Wenzek et al., "CCNet:
        // Extracting High Quality Monolingual Datasets from Web Crawl
        // Data"): score each document by its per-token negative
        // log-likelihood under an n-gram LM — high-perplexity docs are
        // gibberish/boilerplate candidates, low are fluent. The LM here
        // is a word-bigram model with add-one smoothing TRAINED ON THE
        // CORPUS ITSELF (self-perplexity — the CCNet trick of scoring
        // against in-domain counts, no external artifact): P(w2|w1) =
        // (C(w1 w2) + 1) / (C(w1) + V), C(w1) the unigram occurrence
        // count, V the distinct-token vocabulary. Cross-engine
        // exactness: each bigram's -ln P is computed from identical
        // IEEE doubles (one division of exact integer counts) and
        // scaled to 1e-4 integers BEFORE the per-doc sum — the sum is
        // order-independent integer arithmetic, one exact division at
        // the end (the q_text_bm25 convention).
        //
        // Scale shape: the canonical LM count job — bigram explode +
        // hash-partitioned count (the groupBy shuffle IS the job),
        // scoring is two equi-joins (bigram -> C, first-token -> Cw)
        // plus a 1-row broadcast for V; no window, no driver state,
        // no doc x doc. At 100 TB the count tables are corpus-sized
        // relations (not broadcasts) and the joins stay shuffle
        // equi-joins on the n-gram key.
        perplexityScores(s, dir)
          .select(col("doc_id"), col("lang"), col("n_big"),
            (col("ss") / (col("n_big") * lit(10000.0))).as("nll"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $duckPpl
        SELECT dd.doc_id, dd.lang, sc.n_big,
          sc.ss / (sc.n_big * 10000.0) AS nll
        FROM dd JOIN sc USING (doc_id)
        ORDER BY dd.doc_id"""),
      "CCNet-style self-perplexity quality scoring: per-doc mean " +
        "negative log-likelihood under an add-one-smoothed word-bigram " +
        "LM trained on the corpus itself; per-bigram scores scaled to " +
        "exact 1e-4 integers before the order-independent per-doc " +
        "sum, counts via the canonical hash-partitioned n-gram job."),

    GraftQuery(
      "q_text_ppl_buckets", Seq("W2", "A8"),
      (s, dir) => {
        // The CCNet head/middle/tail split (Wenzek et al. §4.3):
        // tercile-bucket each language's corpus by LM perplexity —
        // bucket 0 = head (most fluent, lowest NLL), 1 = middle,
        // 2 = tail (candidates for dropping or down-weighting).
        // Composition of two gated pieces: perplexityScores (shared
        // with q_text_perplexity) and the GK-sketch broadcast-cut
        // bucketing (Quantiles.quantileBuckets — the no-window 100 TB
        // path, exact at gate accuracy, q_text_quantile_sketch's
        // proven contract). Same gate-only exactness pin as the other
        // sketch consumers.
        val scored = perplexityScores(s, dir)
          .withColumn("nll", col("ss") / (col("n_big") * lit(10000.0)))
          .select("doc_id", "lang", "nll")
        val acc = sketchAcc(s, dir)
        if (s.conf.getOption("graft.gate").contains("true")) {
          val row = scored.groupBy("lang").count().agg(max("count")).head()
          val maxG = if (row.isNullAt(0)) 0L else row.getLong(0)
          require(maxG <= acc,
            s"q_text_ppl_buckets: largest lang group ($maxG rows) " +
              s"exceeds sketch accuracy $acc — GK cuts are no longer " +
              "exact vs the DuckDB quantile_disc oracle; raise " +
              "accuracy or gate at a smaller SF")
        }
        graft.operators.Quantiles
          .quantileBuckets(scored, "lang", "nll",
            buckets = 3, accuracy = acc)
          .withColumn("bucket", col("bucket").cast("long"))
          .groupBy("lang", "bucket")
          .agg(count(lit(1)).as("n_docs"),
            round(min("nll"), 4).as("min_nll"),
            round(avg("nll"), 4).as("avg_nll"),
            round(max("nll"), 4).as("max_nll"))
          .orderBy("lang", "bucket")
      },
      Some(s"""WITH $duckPpl,
          sco AS (SELECT dd.doc_id, dd.lang,
              sc.ss / (sc.n_big * 10000.0) AS nll
            FROM dd JOIN sc USING (doc_id)),
          cuts AS (SELECT lang, quantile_disc(nll,
              [${(1 until 3).map(i => i / 3.0).mkString(",")}]) AS cs
            FROM sco GROUP BY 1),
          b AS (SELECT sco.lang,
              len(list_filter(cuts.cs, c -> c < sco.nll))::BIGINT
                AS bucket,
              sco.nll
            FROM sco JOIN cuts ON cuts.lang = sco.lang)
        SELECT lang, bucket, count(*)::BIGINT AS n_docs,
          round(min(nll), 4) AS min_nll,
          round(avg(nll), 4) AS avg_nll,
          round(max(nll), 4) AS max_nll
        FROM b GROUP BY 1, 2 ORDER BY 1, 2"""),
      "CCNet head/middle/tail corpus split: per-language perplexity " +
        "terciles from the GK-sketch broadcast cut points (no " +
        "per-language window sort), composed from the shared " +
        "perplexity partials — bucket 0 is the fluent head, 2 the " +
        "tail."),

    GraftQuery(
      "q_text_scrub", Seq("P4", "P6", "A8"),
      (s, dir) => {
        // Corpus scrubbing — the PII-masking + term-blocklist stage a
        // training-data pipeline runs before anything else ships
        // (C4/Dolma-style). Two kernels, one pass: (1) PII regexes
        // (email, phone, IPv4 — the Java/RE2 common subset, so the
        // DuckDB twin applies the IDENTICAL patterns) rewrite spans to
        // typed tags; (2) a broadcast-sized token blocklist masks
        // whole tokens. The per-source fingerprint is the sum of each
        // scrubbed doc's md5-derived hash64 mod 1e9+7 — order-
        // independent (no sort), overflow-free (6e13 max at sf1), and
        // it proves the masked TEXT matches byte-for-byte across
        // engines, not just the counts. Scale shape: one narrow
        // projection + one hash-partitioned agg; no shuffle of the doc
        // bodies, no window. The corpus has no real PII (n_pii_hits is
        // an all-zero column by construction of the testdata) — the
        // regex behavior itself is pinned on synthetic strings in
        // ScrubSpec; the oracle proves the wiring end to end. n_pii
        // counts SEQUENTIALLY (TextOps.piiCount) so overlapping spans
        // count once, matching the one tag scrubPii actually emits.
        val bl = PipelineBlocklist
        docs(s, dir)
          .withColumn("sp", TextOps.scrubProjection(col("text"), bl,
            "[MASKED]"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            count(when(col("sp.n_masked") > 0, 1)).as("n_docs_hit"),
            sum("sp.n_masked").as("n_tokens_masked"),
            sum("sp.n_pii").as("n_pii_hits"),
            sum(expr(TextOps.hash64("sp.scrubbed") + " % 1000000007"))
              .as("corpus_fp"))
          .orderBy("source")
      },
      Some(s"""WITH s1 AS (SELECT source, text,
            regexp_replace(text, '${TextOps.emailRe}', '[EMAIL]', 'g')
              AS c1
          FROM documents),
        s2 AS (SELECT source, text, c1,
            regexp_replace(c1, '${TextOps.phoneRe}', '[PHONE]', 'g')
              AS c2
          FROM s1),
        d AS (SELECT source,
            regexp_replace(c2, '${TextOps.ipv4Re}', '[IP]', 'g')
              AS clean,
            len(regexp_extract_all(text, '${TextOps.emailRe}'))
              + len(regexp_extract_all(c1, '${TextOps.phoneRe}'))
              + len(regexp_extract_all(c2, '${TextOps.ipv4Re}'))
              AS n_pii
          FROM s2),
        m AS (SELECT source, n_pii,
            list_filter(string_split(clean, ' '), x -> x != '') AS t
          FROM d),
        x AS (SELECT source, n_pii,
            len(list_filter(t, x ->
              list_contains($duckBlocklist, x)))
              AS n_masked,
            array_to_string(list_transform(t, x ->
              CASE WHEN list_contains($duckBlocklist, x)
              THEN '[MASKED]' ELSE x END), ' ') AS scrubbed
          FROM m)
        SELECT source, count(*) AS n_docs,
          count(CASE WHEN n_masked > 0 THEN 1 END) AS n_docs_hit,
          sum(n_masked)::BIGINT AS n_tokens_masked,
          sum(n_pii)::BIGINT AS n_pii_hits,
          sum(${dh("scrubbed")} % 1000000007)::BIGINT AS corpus_fp
        FROM x GROUP BY 1 ORDER BY 1"""),
      "PII + blocklist corpus scrubbing: chained codegen'd " +
        "regexp_replace for emails/phones/IPv4s, whole-token blocklist " +
        "masking, per-source order-independent fingerprint of the " +
        "scrubbed text."),

    GraftQuery(
      "q_pipeline_mixture", Seq("D8", "W2", "A8"),
      (s, dir) => {
        // Corpus MIXTURE under a token budget — the sampling step a
        // training run performs after the corpus is built: give
        // premium sources (src1-src5) weight 2 and the rest weight 1,
        // target half the corpus tokens overall, and within each
        // source take a deterministic uniform shuffle of docs until
        // that source's budget is reached (take-until semantics: the
        // doc straddling the boundary is kept, so a source's selected
        // tokens may EXCEED its budget — by strictly less than that
        // one straddling doc's length, never by a second doc, because
        // every other selected doc STARTED strictly under budget.
        // MixtureBoundSpec pins this bound). All integer math —
        // budget = (total * w) div (2 * sum(w)) with sum(w) computed
        // from the live source set (not a hardcoded constant, so the
        // half-the-tokens contract survives any source cardinality),
        // cut on exclusive
        // per-source running token counts from the two-phase prefix
        // scan (PrefixSum — no per-source window sort straggler), and
        // the shuffle order is the md5-of-doc_id priority the D8
        // sampler uses, so the draw is reproducible on any engine.
        val corpus = docs(s, dir)
          .where(col("source") =!= "src0")
          .select(col("doc_id"), col("source"),
            expr(s"cast(size($sparkToks) as bigint)").as("n_tok"),
            concat(md5(col("doc_id").cast("string")),
              col("doc_id").cast("string")).as("pri"))
        val wExpr = when(col("source")
          .isin("src1", "src2", "src3", "src4", "src5"), lit(2L))
          .otherwise(lit(1L))
        val total = corpus.agg(sum("n_tok").as("total"))
        val srcs = corpus.select("source").distinct()
          .withColumn("w", wExpr)
        val sumW = srcs.agg(sum("w").as("sumw"))
        val budgets = srcs
          .crossJoin(broadcast(total))
          .crossJoin(broadcast(sumW))
          .select(col("source"),
            expr("(total * w) div (2 * sumw)").as("budget"))
        val cum = graft.operators.PrefixSum
          .runningTotal(corpus, "source", "pri", "n_tok")
        val sel = cum.join(broadcast(budgets), Seq("source"))
          .where(col("cum_before") < col("budget"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tok").as("n_tokens"))
        budgets.join(sel, Seq("source"), "left")
          .select(col("source"), col("budget"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
          .orderBy("source")
      },
      Some(s"""WITH c AS (SELECT doc_id, source,
            len($duckToks)::BIGINT AS n_tok,
            md5(doc_id::VARCHAR) || doc_id AS pri
          FROM documents WHERE source != 'src0'),
          t AS (SELECT sum(n_tok)::BIGINT AS total FROM c),
          ws AS (SELECT source, CASE WHEN source IN
                ('src1','src2','src3','src4','src5')
                THEN 2 ELSE 1 END AS w
            FROM (SELECT DISTINCT source FROM c)),
          sw AS (SELECT sum(w)::BIGINT AS sumw FROM ws),
          b AS (SELECT source, (t.total * w) // (2 * sw.sumw) AS budget
            FROM ws, t, sw),
          cum AS (SELECT doc_id, source, n_tok,
              coalesce(sum(n_tok) OVER (PARTITION BY source
                ORDER BY pri
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS cb
            FROM c),
          -- take-until: cb < budget keeps the straddling doc, so
          -- n_tokens may exceed budget by AT MOST that one doc
          -- (every other kept doc started strictly under budget)
          sel AS (SELECT cum.source, count(*)::BIGINT AS n_docs,
              sum(n_tok)::BIGINT AS n_tokens
            FROM cum JOIN b USING (source) WHERE cb < budget
            GROUP BY 1)
        SELECT b.source, b.budget::BIGINT AS budget,
          coalesce(sel.n_docs, 0)::BIGINT AS n_docs,
          coalesce(sel.n_tokens, 0)::BIGINT AS n_tokens
        FROM b LEFT JOIN sel ON sel.source = b.source
        ORDER BY b.source"""),
      "Token-budget corpus mixing: weighted per-source budgets " +
        "(integer-exact), deterministic md5-priority shuffle within " +
        "each source, take-until cut on the two-phase prefix scan's " +
        "exclusive running totals — the D8 sampler composed with W2 " +
        "cumulative semantics, reproducible on any engine."),

    GraftQuery(
      "q_pipeline_split", Seq("D8", "A8"),
      (s, dir) => {
        // Deterministic train/val/test split (90/5/5) by CONTENT-ID
        // hash, not row position: membership is a pure function of
        // doc_id, so it is stable under corpus growth, repartitioning,
        // and re-runs — adding documents never moves an existing doc
        // across splits (the property row_number- or rand-based splits
        // lack, and the reason eval contamination stays impossible
        // across pipeline versions). Same md5-derived hash64 as every
        // other selection surface, so the oracle recomputes membership
        // bit-for-bit. One projection + one groupBy — no shuffle
        // beyond the final small aggregation.
        // src0 is the EVAL benchmark everywhere else in this pack
        // (contamination/decontamination treat it as the held-out
        // set), so it never enters the training split at all — a
        // benchmark doc in 'train' would be contamination by
        // construction, exactly what the hash-stable split is sold
        // as preventing.
        val h = expr(TextOps.hash64("cast(doc_id as string)"))
        docs(s, dir)
          .where(col("source") =!= "src0")
          .withColumn("b", h % 100)
          .withColumn("split",
            when(col("b") < 90, "train")
              .when(col("b") < 95, "val")
              .otherwise("test"))
          .withColumn("n_tok", expr(s"cast(size($sparkToks) as bigint)"))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tok").as("n_tokens"))
          .orderBy("lang", "split")
      },
      Some(s"""WITH d AS (SELECT lang,
            ${dh("doc_id::VARCHAR")} % 100 AS b,
            len($duckToks)::BIGINT AS n_tok
          FROM documents WHERE source != 'src0'),
          sp AS (SELECT lang, n_tok,
            CASE WHEN b < 90 THEN 'train'
              WHEN b < 95 THEN 'val' ELSE 'test' END AS split
          FROM d)
        SELECT lang, split, count(*)::BIGINT AS n_docs,
          sum(n_tok)::BIGINT AS n_tokens
        FROM sp GROUP BY 1, 2 ORDER BY 1, 2"""),
      "Hash-stable 90/5/5 train/val/test split over the TRAINING " +
        "corpus (the src0 eval benchmark is excluded outright — " +
        "benchmark docs never enter any split): membership is a pure " +
        "function of doc_id (md5-derived), so splits survive corpus " +
        "growth and re-runs without cross-split drift — one projection " +
        "and one small aggregation."),

    GraftQuery(
      "q_dedup_incremental", Seq("D1", "D2", "J7"),
      (s, dir) => {
        // Incremental ingest dedup: treat docs with doc_id % 5 != 0 as
        // the PRIOR corpus (already ingested) and the whole table as
        // the arriving shard; keep only rows whose content hash is
        // genuinely new. Exact anti-join semantics with a broadcast
        // Bloom prefilter: definitely-new rows (no false negatives)
        // bypass the shuffle entirely; only Bloom-positive candidates
        // are confirmed by the anti-join — at 100 TB the shuffle
        // carries the dup sliver, not the shard.
        val d = docs(s, dir)
        val prior = d.where(col("doc_id") % 5 =!= 0)
        val priorN = (Tables.rowCount(s, dir, "documents") * 4) / 5
        graft.operators.IncrementalDedup
          .newRows(d, prior, md5(col("text")), priorN)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_new"),
            sum(col("n_chars")).as("new_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*)::BIGINT AS n_new,
          sum(n_chars)::BIGINT AS new_chars
        FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM documents p
          WHERE p.doc_id % 5 <> 0 AND md5(p.text) = md5(d.text))
        GROUP BY 1 ORDER BY 1"""),
      "Incremental corpus dedup (D1/D2 against a PRIOR corpus, J7 " +
        "anti semantics): bounded Bloom built from the prior side in " +
        "one mergeable pass, broadcast to the shard; no-false-negative " +
        "fast path emits definitely-new docs without shuffling, exact " +
        "anti-join confirms only the Bloom-positive sliver — result is " +
        "exact for ANY fpp."),

    GraftQuery(
      "q_text_gopher", Seq("P5", "A8"),
      (s, dir) => {
        // Gopher-style rule-based quality gate (Rae et al. 2021 §A1.1),
        // the pre-LM heuristic pack every web-corpus build runs before
        // model-based scoring. Four rules, each INTEGER-exact so the
        // oracle reproduces verdicts bit-for-bit (mean-word-length and
        // alpha-fraction bounds via cross-multiplication, no division):
        //   wc:    50 <= word count <= 100_000          (Gopher bounds)
        //   mwl:   3 <= mean word length <= 10          (sumlen vs 3n/10n)
        //   alpha: >= 80% of words contain a letter     (5·n_alpha >= 4·n)
        //   stop:  >= 2 distinct function words present (corpus set:
        //          'the','a' — the synthetic vocabulary's function
        //          words, standing in for Gopher's 8-word English set)
        // Output: per-language doc count, full-pass count, and per-rule
        // fail counts — the same "which rule binds on THIS corpus"
        // measurement the audit-style queries report. One projection +
        // one small aggregation; no joins, no window.
        // rule bits come from the ONE shared projection
        // (TextOps.gopherBits)
        docs(s, dir)
          .withColumn("t", TextOps.tokens("text"))
          .withColumn("g", TextOps.gopherBits("t"))
          .select(col("lang"), col("g.p_wc").as("p_wc"),
            col("g.p_mwl").as("p_mwl"), col("g.p_alpha").as("p_alpha"),
            col("g.p_stop").as("p_stop"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(expr("p_wc * p_mwl * p_alpha * p_stop")).as("n_pass"),
            (count(lit(1)) - sum("p_wc")).as("n_fail_wc"),
            (count(lit(1)) - sum("p_mwl")).as("n_fail_mwl"),
            (count(lit(1)) - sum("p_alpha")).as("n_fail_alpha"),
            (count(lit(1)) - sum("p_stop")).as("n_fail_stop"))
          .orderBy("lang")
      },
      Some(s"""WITH d AS (SELECT lang, $duckToks AS t FROM documents),
          m AS (SELECT lang, len(t)::BIGINT AS n,
              coalesce(list_sum(list_transform(t, w -> length(w))), 0)::BIGINT
                AS sumlen,
              len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]')))::BIGINT
                AS n_alpha,
              len(list_intersect(list_distinct(t), ['the','a']))::BIGINT
                AS n_stop
            FROM d),
          p AS (SELECT lang,
              CASE WHEN n >= 50 AND n <= 100000 THEN 1 ELSE 0 END AS p_wc,
              CASE WHEN sumlen >= 3*n AND sumlen <= 10*n THEN 1 ELSE 0 END
                AS p_mwl,
              CASE WHEN 5*n_alpha >= 4*n THEN 1 ELSE 0 END AS p_alpha,
              CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS p_stop
            FROM m)
        SELECT lang, count(*)::BIGINT AS n_docs,
          sum(p_wc * p_mwl * p_alpha * p_stop)::BIGINT AS n_pass,
          (count(*) - sum(p_wc))::BIGINT AS n_fail_wc,
          (count(*) - sum(p_mwl))::BIGINT AS n_fail_mwl,
          (count(*) - sum(p_alpha))::BIGINT AS n_fail_alpha,
          (count(*) - sum(p_stop))::BIGINT AS n_fail_stop
        FROM p GROUP BY 1 ORDER BY 1"""),
      "Gopher-style rule-based quality gate: word-count bounds, " +
        "mean-word-length bounds, alphabetic-word fraction, and " +
        "function-word presence — all integer-exact (cross-multiplied " +
        "bounds, no division), per-language pass/fail-by-rule counts " +
        "in one projection + one aggregation."),

    GraftQuery(
      "q_text_vocab", Seq("P9", "A8", "W3"),
      (s, dir) => {
        // Vocabulary extraction with Zipf coverage — the tokenizer-
        // training prelude (BPE/unigram corpora start from exactly
        // this table): top-20 corpus tokens by frequency plus the
        // cumulative share of all token occurrences they cover, and
        // the total vocabulary size. Scale shape: one (token) hash
        // shuffle for counts, a 1-row (tot, v) agg broadcast, and the
        // top-k via orderBy+limit — Spark's TakeOrderedAndProject, a
        // per-partition heap + driver merge of 20-row partials, NOT a
        // global sort and NOT an unpartitioned window over the whole
        // vocabulary. The rank/cumsum window then runs over exactly 20
        // rows. Counts and cumulative counts are exact integers;
        // coverage is one int/int division rounded for display.
        val counts = docs(s, dir)
          .select(explode(TextOps.tokens("text")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("cnt"))
        val totals = counts.agg(
          sum("cnt").as("tot"), count(lit(1)).as("vocab_size"))
        val top = counts
          .orderBy(col("cnt").desc, col("token").asc).limit(20)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("token").asc)
        top.crossJoin(broadcast(totals))
          .withColumn("rnk", row_number().over(w))
          .withColumn("cum", sum("cnt").over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)))
          .select(col("rnk"), col("token"), col("cnt"),
            round(col("cum").cast("double") / col("tot"), 6)
              .as("coverage"),
            col("vocab_size"))
          .orderBy("rnk")
      },
      Some(s"""WITH tok AS (SELECT unnest($duckToks) AS token
            FROM documents),
          c AS (SELECT token, count(*)::BIGINT AS cnt FROM tok
            GROUP BY 1),
          tv AS (SELECT sum(cnt)::BIGINT AS tot,
              count(*)::BIGINT AS vocab_size FROM c),
          r AS (SELECT token, cnt,
              row_number() OVER (ORDER BY cnt DESC, token) AS rnk,
              sum(cnt) OVER (ORDER BY cnt DESC, token
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS cum
            FROM c)
        SELECT rnk, token, cnt,
          round(cum::DOUBLE / tv.tot, 6) AS coverage, tv.vocab_size
        FROM r, tv WHERE rnk <= 20 ORDER BY rnk"""),
      "Vocabulary extraction with Zipf coverage CDF: exact corpus " +
        "token counts, top-20 via TakeOrdered (no global sort, no " +
        "full-vocab window), cumulative coverage from exact integer " +
        "sums over the 20-row prefix."),

    GraftQuery(
      "q_text_dsir", Seq("P5", "A8", "D8"),
      (s, dir) => {
        // DSIR-style importance weighting (Xie et al., NeurIPS 2023):
        // score every doc by how much more likely its hashed-unigram
        // bag is under a TARGET domain model than under the RAW corpus
        // model, lambda(doc) = sum_b c_b(doc) * (ln p_t(b) - ln p_r(b))
        // with B=64 hash buckets and add-one smoothing. The target is
        // the curated src1..src4 slice (src0 stays the held-out eval
        // set, as everywhere in this pack); raw is the whole corpus.
        // Float discipline follows q_text_perplexity: each bucket's
        // log-ratio is scaled to an exact 1e4 integer ONCE in the
        // 64-row model table, so every per-doc weight is an exact
        // integer dot product — order-independent and bit-identical in
        // the oracle. Scale shape: one (doc_id, b) shuffle, one (b)
        // shuffle into a FIXED 64-row model that broadcasts, top-25 by
        // TakeOrdered. The model never grows with the corpus.
        val B = 64
        val docBuck = docs(s, dir)
          .select(col("doc_id"),
            explode(TextOps.tokens("text")).as("tok"))
          .withColumn("b", expr(s"${TextOps.hash64("tok")} % $B"))
          .groupBy("doc_id", "b")
          .agg(count(lit(1)).as("c"))
        // the model definition lives in TextOps.dsirModel
        val model = TextOps.dsirModel(docs(s, dir),
          col("source").isin("src1", "src2", "src3", "src4"),
          buckets = B)
        val weights = docBuck.join(broadcast(model), Seq("b"))
          .groupBy("doc_id")
          .agg(sum(col("c") * col("s4")).as("weight"),
            sum("c").as("n_tok"))
        weights
          .join(docs(s, dir).select("doc_id", "source", "lang"),
            Seq("doc_id"))
          .orderBy(col("weight").desc, col("doc_id").asc).limit(25)
          .select("doc_id", "source", "lang", "n_tok", "weight")
          .orderBy(col("weight").desc, col("doc_id").asc)
      },
      Some(s"""WITH tok AS (SELECT doc_id, source,
              unnest($duckToks) AS tok FROM documents),
          tb AS (SELECT doc_id, source,
              ${dh("tok")} % 64 AS b FROM tok),
          db AS (SELECT doc_id, b, count(*)::BIGINT AS c FROM tb
            GROUP BY 1, 2),
          raw AS (SELECT b, sum(c)::BIGINT AS cr FROM db GROUP BY 1),
          tgt AS (SELECT b, count(*)::BIGINT AS ct FROM tb
            WHERE source IN ('src1','src2','src3','src4') GROUP BY 1),
          tot AS (SELECT (SELECT sum(cr) FROM raw)::BIGINT AS tr,
              (SELECT sum(ct) FROM tgt)::BIGINT AS tt),
          model AS (SELECT raw.b,
              round((ln((coalesce(tgt.ct, 0) + 1)::DOUBLE / (tot.tt + 64))
                - ln((raw.cr + 1)::DOUBLE / (tot.tr + 64)))
                * 10000)::BIGINT AS s4
            FROM raw LEFT JOIN tgt USING (b), tot),
          w AS (SELECT doc_id, sum(c * s4)::BIGINT AS weight,
              sum(c)::BIGINT AS n_tok
            FROM db JOIN model USING (b) GROUP BY 1)
        SELECT d.doc_id, d.source, d.lang, w.n_tok, w.weight
        FROM w JOIN documents d USING (doc_id)
        ORDER BY w.weight DESC, d.doc_id LIMIT 25"""),
      "DSIR-style data selection: hashed-unigram importance weights " +
        "ln p_target/p_raw with add-one smoothing, log-ratios scaled " +
        "to exact 1e4 integers in a FIXED 64-row broadcast model, " +
        "per-doc weights as exact integer dot products, top-25 via " +
        "TakeOrdered."),

    GraftQuery(
      "q_text_dupspans", Seq("D1", "J11", "A8"),
      (s, dir) => {
        // Substring-level duplication audit (Lee et al., ACL 2022 —
        // dedup below document granularity): what share of each doc's
        // char-8-gram fingerprints also appears in ANOTHER doc. The
        // candidate structure is the usual band/bucket discipline:
        // one (doc, fp) row per distinct fingerprint, popularity by
        // fp-keyed groupBy, membership join back on the SAME bigint
        // key — a hot fingerprint of k docs costs k rows, never k^2
        // pairs. Ratios leave integer land exactly once per source
        // (sum_shared/sum_fp), and the heavy-dup flag is
        // cross-multiplied (2*shared >= fps) so verdicts are
        // integer-exact.
        val fps = docs(s, dir)
          .withColumn("fp", explode(array_distinct(
            TextOps.charFingerprints("text", w = 8, step = 4))))
          .select("doc_id", "source", "fp")
        val pop = fps.groupBy("fp").agg(count(lit(1)).as("nd"))
        fps.join(pop, Seq("fp"))
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_fp"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_fp").as("sum_fp"),
            sum("n_shared").as("sum_shared"),
            round(sum("n_shared").cast("double") / sum("n_fp"), 4)
              .as("dup_ratio"),
            sum(when(col("n_shared") * 2 >= col("n_fp"), 1L)
              .otherwise(0L)).as("n_heavy"))
          .orderBy("source")
      },
      Some(s"""WITH f AS (SELECT doc_id, source,
            unnest(list_distinct(list_transform(
              range(1, greatest(len(text)-7, 1)+1, 4),
              i -> ${dh("substr(text, i, 8)")}))) AS fp
          FROM documents),
          pop AS (SELECT fp, count(*)::BIGINT AS nd FROM f GROUP BY 1),
          per AS (SELECT doc_id, source, count(*)::BIGINT AS n_fp,
              sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT
                AS n_shared
            FROM f JOIN pop USING (fp) GROUP BY 1, 2)
        SELECT source, count(*)::BIGINT AS n_docs,
          sum(n_fp)::BIGINT AS sum_fp,
          sum(n_shared)::BIGINT AS sum_shared,
          round(sum(n_shared)::DOUBLE / sum(n_fp), 4) AS dup_ratio,
          sum(CASE WHEN n_shared * 2 >= n_fp THEN 1 ELSE 0 END)::BIGINT
            AS n_heavy
        FROM per GROUP BY 1 ORDER BY 1"""),
      "Cross-document duplicated-substring share: distinct char-8-gram " +
        "fingerprints per doc, fp-keyed popularity + membership join " +
        "(k rows per hot fingerprint, never k^2 pairs), per-source " +
        "duplication ratio with one exact division and a " +
        "cross-multiplied heavy-dup flag."),

    GraftQuery(
      "q_text_bpe_pairs", Seq("P9", "A8", "W3"),
      (s, dir) => {
        // The BPE merge-candidate count — tokenizer training's inner
        // loop (Sennrich et al. 2016): adjacent character-pair
        // frequencies over the corpus, each pair weighted by its
        // word's corpus frequency (exactly one BPE iteration's merge
        // scoring over a word-count table). Exact integer counts; the
        // per-word pair explode runs over the DISTINCT word table (one
        // row per vocabulary word, not per token instance — the
        // standard BPE trick, and a big shuffle saver at corpus
        // scale); top-15 via TakeOrdered, rank window over 15 rows.
        val wc = docs(s, dir)
          .select(explode(TextOps.tokens("text")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("wc"))
        val pairs = wc
          .select(col("wc"), explode(expr(
            """if(length(w) >= 2,
               transform(sequence(1, length(w) - 1),
                 i -> substring(w, i, 2)),
               cast(array() as array<string>))""")).as("pair"))
          .groupBy("pair").agg(sum("wc").as("cnt"))
        val top = pairs.orderBy(col("cnt").desc, col("pair").asc)
          .limit(15)
        top.withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("cnt").desc, col("pair").asc)))
          .select("rnk", "pair", "cnt")
          .orderBy("rnk")
      },
      Some(s"""WITH wsp AS (SELECT unnest($duckToks) AS w
            FROM documents),
          wc AS (SELECT w, count(*)::BIGINT AS wc FROM wsp GROUP BY 1),
          pc AS (SELECT substr(w, i::INT, 2) AS pair,
              sum(wc)::BIGINT AS cnt
            FROM (SELECT w, wc, unnest(range(1, length(w))) AS i
              FROM wc) GROUP BY 1),
          r AS (SELECT pair, cnt, row_number() OVER
              (ORDER BY cnt DESC, pair) AS rnk FROM pc)
        SELECT rnk, pair, cnt FROM r WHERE rnk <= 15 ORDER BY rnk"""),
      "BPE merge-pair scoring over the distinct-word count table " +
        "(one explode per vocabulary word, not per token instance): " +
        "exact frequency-weighted adjacent-pair counts, top-15 merge " +
        "candidates via TakeOrdered."),

    GraftQuery(
      "q_text_index_search", Seq("A8", "W3", "W4"),
      (s, dir) => {
        // The same BM25 math as q_text_bm25, driven through the
        // PERSISTENT-INDEX surface (TextIndex.build + search) — the
        // library's inverted-index API sits behind the correctness
        // gate itself (the q_sim_index_probe pattern for text). The
        // FULL index builds here (every term, the real build path);
        // q_text_bm25 exercises the query-pruned build of the same
        // scorer, so the two gates together pin that pruned and full
        // builds score identically.
        import graft.operators.TextIndex
        val idx = TextIndex.build(docs(s, dir))
        TextIndex.search(idx, Bm25Terms, k = 10)
          .withColumn("bm25", col("s4") / 10000.0)
          .select("rnk", "doc_id", "n_terms", "bm25")
          .orderBy("rnk")
      },
      Some(s"""WITH $duckBm25,
          r AS (SELECT doc_id, n_terms, s4, row_number() OVER
              (ORDER BY s4 DESC, doc_id) AS rnk FROM bm)
        SELECT rnk, doc_id, n_terms, s4 / 10000.0 AS bm25
        FROM r WHERE rnk <= 10 ORDER BY rnk"""),
      "Top-10 keyword search through the persistent inverted-index " +
        "surface (full-vocabulary build + pruned probe): identical " +
        "exact-integer BM25 ranking as the ad-hoc scorer, TakeOrdered " +
        "+ a 10-row rank window."),

    GraftQuery(
      "q_text_containment", Seq("J11", "D1", "A8"),
      (s, dir) => containmentPipeline(s, dir),
      Some(s"""WITH f AS (SELECT doc_id,
            unnest(list_distinct(list_transform(
              range(1, greatest(len(text)-7, 1)+1, 4),
              i -> ${dh("substr(text, i, 8)")}))) AS fp
          FROM documents),
          sz AS (SELECT doc_id, count(*)::BIGINT AS n_a FROM f
            GROUP BY 1),
          ov AS (SELECT a.doc_id AS a, b.doc_id AS b,
              count(*)::BIGINT AS overlap
            FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id <> b.doc_id
            GROUP BY 1, 2)
        SELECT ov.a AS contained, ov.b AS container, sz.n_a,
          ov.overlap, round(ov.overlap::DOUBLE / sz.n_a, 4)
            AS containment
        FROM ov JOIN sz ON sz.doc_id = ov.a
        WHERE ov.overlap * 5 >= sz.n_a * 4
        ORDER BY 1, 2"""),
      "Prefix-filtered exact containment join (C(A,B) = |A∩B|/|A| >= " +
        "0.8): only each doc's rarest floor(0.2n)+1 fingerprints seed " +
        "candidates (lossless by the prefix bound), overlap counted " +
        "only on candidate pairs, verdict cross-multiplied — the " +
        "asymmetric subsumption detector Jaccard dedup misses."),

    GraftQuery(
      "q_text_tokens", Seq("P9", "A8", "J1"),
      (s, dir) => {
        // Corpus token-budget accounting (Bpe.tokenStats): train the
        // tokenizer on a deterministic 20% document SAMPLE (doc_id %
        // 5 == 0 — at 100 TB nobody trains BPE on the full corpus;
        // training cost is sample-sized, not corpus-sized), then count
        // every document's tokens per language by broadcast-joining
        // the sample-trained vocabulary's word→n_tokens table onto the
        // exploded word stream; out-of-sample words fall back to
        // character-level counts (oov_words reports how many). The
        // merge loop (24 rounds, one driver row per round) never
        // touches per-instance rows. Iterative training is not
        // SQL-expressible — driver runs the rows-only check; exact
        // parity with an independent in-memory reference tokenizer is
        // pinned in BpeSpec.
        val d = docs(s, dir)
        val (_, vocab) = graft.operators.Bpe.train(
          d.where(pmod(col("doc_id"), lit(5)) === 0), 24)
        // Export the trained word→n_tokens table as a model artifact
        // (the standard tokenizer-as-artifact shape: training happens
        // once on a sample, scoring replays everywhere) so the DuckDB
        // oracle can replay the SCORING half — broadcast join +
        // char-fallback sums — independently. The training half stays
        // pinned by BpeSpec (iterative, not SQL-expressible). The
        // artifact path is fixed because oracle SQL is a static string.
        vocab.select(col("w"), size(col("syms")).as("n_tokens"))
          .coalesce(1).write.mode("overwrite")
          .parquet(TextQueries.tokensVocabPath)
        graft.operators.Bpe.tokenStats(d, vocab, Seq("lang"))
          .orderBy("lang")
      },
      Some(s"""WITH vocab AS (SELECT w, n_tokens FROM
            read_parquet('${TextQueries.tokensVocabPath}/*.parquet')),
          words AS (SELECT lang, unnest($duckToks) AS w
            FROM documents),
          counted AS (SELECT lang,
              count(*)::BIGINT AS n_words,
              sum(CASE WHEN v.n_tokens IS NULL THEN 1 ELSE 0
                END)::BIGINT AS oov_words,
              sum(coalesce(v.n_tokens, length(words.w)))::BIGINT
                AS n_tokens,
              sum(length(words.w))::BIGINT AS n_word_chars
            FROM words LEFT JOIN vocab v ON words.w = v.w
            GROUP BY 1),
          nd AS (SELECT lang, count(*)::BIGINT AS n_docs
            FROM documents GROUP BY 1)
        SELECT nd.lang, nd.n_docs,
          coalesce(c.n_words, 0) AS n_words,
          coalesce(c.oov_words, 0) AS oov_words,
          coalesce(c.n_tokens, 0) AS n_tokens,
          coalesce(c.n_word_chars, 0) AS n_word_chars
        FROM nd LEFT JOIN counted c ON nd.lang = c.lang
        ORDER BY nd.lang"""),
      "Token-budget accounting under a sample-trained BPE tokenizer: " +
        "vocabulary-sized merge loop, broadcast word→n_tokens join, " +
        "char-level OOV fallback, per-language doc/word/token totals; " +
        "the trained vocabulary exports as a parquet model artifact " +
        "and the oracle replays the scoring join over it."),

    GraftQuery(
      "q_text_normalize", Seq("P6", "A8", "P9"),
      (s, dir) => {
        // Unicode + whitespace canonicalization
        // (TextOps.normalizeProjection): NFC composition via the
        // codegen'd graft_nfc expression, control-char strip,
        // space/tab-run collapse, trim — the stage every byte-keyed
        // operator (dedup, shingles, winnowing) depends on. The
        // synthetic corpus is already clean, so each doc is
        // deterministically DIRTIED identically in both engines
        // (doubled spaces, a leading tab, one C0 control byte, a
        // decomposed e+COMBINING ACUTE) and the gate pins that
        // normalization restores canonical bytes: exact per-source
        // counter sums plus an order-independent fingerprint of the
        // normalized text. DuckDB's nfc_normalize is the oracle twin
        // of the Catalyst expression.
        val d = docs(s, dir)
          .withColumn("dirty",
            concat(lit("\t "),
              regexp_replace(col("text"), " ", "  "),
              lit("\u0001"), lit(" e\u0301")))
        d.withColumn("np", TextOps.normalizeProjection(col("dirty")))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("np.nfc_changed").as("n_nfc_changed"),
            sum("np.ctrl_removed").as("ctrl_removed"),
            sum("np.ws_collapsed").as("ws_collapsed"),
            sum(expr(TextOps.hash64("np.normalized") +
              " % 1000000007")).as("bytes_fp"))
          .orderBy("source")
      },
      Some("""WITH dirty AS (
            SELECT source,
              chr(9) || ' ' || replace(text, ' ', '  ') || chr(1) ||
                ' e' || chr(769) AS t
            FROM documents),
          nfc AS (SELECT source, t, nfc_normalize(t) AS n FROM dirty),
          x AS (SELECT source, (n <> t)::BIGINT AS ch, n,
              regexp_replace(n,
                '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS nc
            FROM nfc),
          y AS (SELECT source, ch, length(n) - length(nc) AS ctrl, nc,
              regexp_replace(nc, '[ \t]+', ' ', 'g') AS coll
            FROM x),
          z AS (SELECT source, ch, ctrl,
              length(nc) - length(coll) AS ws, trim(coll) AS norm
            FROM y)
        SELECT source, count(*)::BIGINT AS n_docs,
          sum(ch)::BIGINT AS n_nfc_changed,
          sum(ctrl)::BIGINT AS ctrl_removed,
          sum(ws)::BIGINT AS ws_collapsed,
          sum(('0x' || substr(md5(norm), 1, 15))::BIGINT
            % 1000000007)::BIGINT AS bytes_fp
        FROM z GROUP BY 1 ORDER BY 1"""),
      "Byte-canonicalization gate: codegen'd NFC expression vs " +
        "DuckDB's nfc_normalize, identical RE2-subset strip/collapse " +
        "patterns, exact counter sums and a normalized-bytes " +
        "fingerprint — engine parity of the bytes every dedup key " +
        "hashes."),

    GraftQuery(
      "q_text_kneser_ney", Seq("A8", "J11", "W3"),
      (s, dir) => {
        // Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; the
        // smoothing KenLM implements and CCNet scores with), trained
        // on the corpus itself like q_text_perplexity's add-one
        // baseline but with the real estimator:
        //   P(w2|w1) = (c(w1w2) − D)/c(w1)
        //            + D·N1+(w1,·)/c(w1) · N1+(·,w2)/B
        // with discount D = 0.75, N1+(w1,·) the distinct continuation
        // types after w1, N1+(·,w2) the distinct left contexts of w2
        // (the "how many contexts has this word completed" continuation
        // probability that distinguishes KN from count smoothing), and
        // B the total distinct bigram types. Self-trained, so every
        // scored bigram has c ≥ 1 and the discounted mass is positive.
        //
        // Scale shape: the count tables are three hash-partitioned
        // groupBys over the exploded bigram stream (the type counts
        // N1+ reduce the ALREADY-distinct bigram relation, never the
        // token stream twice); scoring is equi-joins on w1 / w2 / bg
        // with the left-context stats pre-merged so each key family
        // joins once, plus ONE 1-row broadcast (B). Per-bigram scores
        // are 1e-4-scaled integers before the order-independent
        // per-doc sum (the cross-engine exactness convention).
        val base = docs(s, dir)
          .withColumn("t", TextOps.tokens("text"))
          .where(size(col("t")) >= 2)
          .select("doc_id", "lang", "t")
          .localCheckpoint(eager = false) // feeds model counts AND scoring
        val big = base.select(col("doc_id"),
          explode(TextOps.wordShingles("t", 2)).as("bg"))
        val bgc = big.groupBy("bg").agg(count(lit(1)).as("cbg"))
          .withColumn("w1", expr("split(bg, ' ')[0]"))
          .withColumn("w2", expr("split(bg, ' ')[1]"))
          .localCheckpoint(eager = false) // bigram types feed three consumers
        val cw = base.select(explode(col("t")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cw"))
        val n1f = bgc.groupBy("w1").agg(count(lit(1)).as("n1f"))
        val n1p = bgc.groupBy("w2").agg(count(lit(1)).as("n1p"))
        val bb = bgc.agg(count(lit(1)).as("bb"))
        val left = cw.join(n1f, col("w") === col("w1")).drop("w1")
        val scored = big
          .join(bgc.select("bg", "cbg", "w1", "w2"), Seq("bg"))
          .join(left, col("w1") === col("w"))
          .join(n1p, Seq("w2"))
          .crossJoin(broadcast(bb))
          .withColumn("s", expr(
            "cast(round(-ln((cast(cbg as double) - 0.75) " +
              "/ cast(cw as double) " +
              "+ 0.75 * cast(n1f as double) / cast(cw as double) " +
              "* (cast(n1p as double) / cast(bb as double))) " +
              "* 10000) as bigint)"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_big"), sum("s").as("ss"))
        base.select("doc_id", "lang").join(scored, Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("n_big"),
            (col("ss") / (col("n_big") * lit(10000.0))).as("nll"))
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, lang, $duckToks AS t
            FROM documents),
          dd AS (SELECT doc_id, lang, t FROM d WHERE len(t) >= 2),
          bge AS (SELECT doc_id,
              unnest(list_transform(range(1, len(t)),
                i -> t[i] || ' ' || t[i+1])) AS bg
            FROM dd),
          bgc AS (SELECT bg, count(*)::BIGINT AS cbg,
              split_part(bg, ' ', 1) AS w1,
              split_part(bg, ' ', 2) AS w2
            FROM bge GROUP BY 1),
          cw AS (SELECT w, count(*)::BIGINT AS cw FROM
            (SELECT unnest(t) AS w FROM dd) GROUP BY 1),
          n1f AS (SELECT w1, count(*)::BIGINT AS n1f FROM bgc
            GROUP BY 1),
          n1p AS (SELECT w2, count(*)::BIGINT AS n1p FROM bgc
            GROUP BY 1),
          bb AS (SELECT count(*)::BIGINT AS bb FROM bgc),
          sc AS (SELECT bge.doc_id, count(*)::BIGINT AS n_big,
              sum(round(-ln((bgc.cbg::DOUBLE - 0.75) / cw.cw::DOUBLE
                + 0.75 * n1f.n1f::DOUBLE / cw.cw::DOUBLE
                * (n1p.n1p::DOUBLE / bb.bb::DOUBLE))
                * 10000)::BIGINT)::BIGINT AS ss
            FROM bge JOIN bgc USING (bg)
              JOIN cw ON cw.w = bgc.w1
              JOIN n1f ON n1f.w1 = bgc.w1
              JOIN n1p ON n1p.w2 = bgc.w2, bb
            GROUP BY 1)
        SELECT dd.doc_id, dd.lang, sc.n_big,
          sc.ss / (sc.n_big * 10000.0) AS nll
        FROM dd JOIN sc USING (doc_id)
        ORDER BY dd.doc_id"""),
      "Interpolated Kneser-Ney bigram perplexity (the KenLM/CCNet " +
        "estimator): discounted bigram mass plus continuation-type " +
        "backoff, all count tables from hash-partitioned n-gram jobs, " +
        "1e-4-integer score scaling for cross-engine exactness."),

    GraftQuery(
      "q_text_chunk", Seq("A8", "D9"),
      (s, dir) => {
        // Sliding-window chunking — the RAG-index / context-window
        // prep step: split each document's token stream into windows
        // of W = 64 tokens with o = 16 tokens of overlap (stride
        // W − o = 48). Window starts are 0, 48, 96, …; a trailing
        // window whose content is FULLY contained in its predecessor
        // (n − s ≤ o) is dropped — boundary-token coverage without
        // duplicate chunks. Per-token-array arithmetic only
        // (sequence + slice higher-order functions, codegen'd): zero
        // shuffles before the per-doc regroup, embarrassingly
        // parallel at 100 TB. The chunk fingerprint is the standard
        // md5-derived hash64 mod 1e9+7 so both engines pin the exact
        // chunk BYTES, order-independently.
        val W = 64; val o = 16; val step = W - o
        docs(s, dir)
          .select(col("doc_id"), expr(sparkToks).as("t"))
          .withColumn("n", size(col("t")))
          .where(col("n") >= 1)
          .withColumn("s", explode(expr(s"sequence(0, n - 1, $step)")))
          .where(col("s") === 0 || (col("n") - col("s")) > o)
          .withColumn("chunk", expr(s"slice(t, s + 1, $W)"))
          .withColumn("ctext", concat_ws(" ", col("chunk")))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_chunks"),
            max(col("n")).as("n_tokens"),
            sum(size(col("chunk"))).as("sum_chunk_tokens"),
            sum(expr(TextOps.hash64("ctext") + " % 1000000007"))
              .as("chunks_fp"))
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, $duckToks AS t
            FROM documents),
          e AS (SELECT doc_id, len(t) AS n, t,
              unnest(range(0, len(t), 48)) AS s
            FROM d WHERE len(t) >= 1),
          k AS (SELECT doc_id, n, s,
              t[s + 1 : s + 64] AS chunk
            FROM e WHERE s = 0 OR (n - s) > 16),
          c AS (SELECT doc_id, n, len(chunk) AS clen,
              array_to_string(chunk, ' ') AS ctext
            FROM k)
        SELECT doc_id, count(*)::BIGINT AS n_chunks,
          max(n)::BIGINT AS n_tokens,
          sum(clen)::BIGINT AS sum_chunk_tokens,
          sum(${dh("ctext")} % 1000000007)::BIGINT AS chunks_fp
        FROM c GROUP BY 1 ORDER BY 1"""),
      "Sliding-window token chunking (W=64, overlap 16) with " +
        "contained-trailing-window suppression: per-doc chunk counts, " +
        "overlap-inflated token totals, and an exact chunk-bytes " +
        "fingerprint — all per-row array arithmetic, shuffle-free " +
        "until the final regroup."),

    GraftQuery(
      "q_text_novelty", Seq("A8", "J7", "D1"),
      (s, dir) => {
        // N-gram novelty scoring — the memorization/overlap metric
        // (e.g. the "novel n-grams" analyses of memorization papers):
        // fraction of a document's DISTINCT word trigrams that never
        // occur in a reference corpus (here the src0 split — the
        // pretraining-set stand-in; scored docs are every other
        // source). Low novelty = the doc largely restates reference
        // content (dedup/decontamination candidate); high = genuinely
        // new text.
        //
        // Scale shape: doc-level trigram TYPES (one distinct over the
        // exploded shingle stream), the reference side reduced to its
        // type set (corpus-sized relation, NOT a broadcast), one
        // shuffle equi-join on the trigram key, one per-doc regroup.
        // No doc x doc pairs anywhere — novelty is per-doc against
        // the corpus, so it stays linear in total shingle volume.
        val base = docs(s, dir)
          .select(col("doc_id"), col("source"),
            TextOps.tokens("text").as("t"))
          .where(size(col("t")) >= 3)
        val tri = base
          .select(col("doc_id"), col("source"),
            explode(TextOps.wordShingles("t", 3)).as("g"))
          .distinct()
        val ref = tri.where(col("source") === "src0")
          .select("g").distinct()
          .withColumn("seen", lit(1))
        tri.where(col("source") =!= "src0")
          .join(ref, Seq("g"), "left")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_types"),
            sum(when(col("seen").isNull, 1L).otherwise(0L))
              .as("n_novel"))
          .withColumn("novelty",
            round(col("n_novel") / col("n_types"), 6))
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, source, $duckToks AS t
            FROM documents),
          dd AS (SELECT doc_id, source, t FROM d WHERE len(t) >= 3),
          tri AS (SELECT DISTINCT doc_id, source,
              unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
            FROM dd),
          ref AS (SELECT DISTINCT g FROM tri WHERE source = 'src0')
        SELECT tri.doc_id, count(*)::BIGINT AS n_types,
          sum(CASE WHEN ref.g IS NULL THEN 1 ELSE 0 END)::BIGINT
            AS n_novel,
          round(sum(CASE WHEN ref.g IS NULL THEN 1 ELSE 0 END)
            / count(*)::DOUBLE, 6) AS novelty
        FROM tri LEFT JOIN ref ON tri.g = ref.g
        WHERE tri.source != 'src0'
        GROUP BY 1 ORDER BY 1"""),
      "Trigram novelty vs a reference split: per-doc fraction of " +
        "distinct word trigrams absent from the src0 corpus — the " +
        "memorization/decontamination overlap metric as one type-set " +
        "equi-join, linear in shingle volume."),

    GraftQuery(
      "q_text_boilerplate", Seq("A8", "J7", "D1"),
      (s, dir) => {
        // Per-source boilerplate-phrase detection — the CCNet/RefinedWeb
        // template-removal pass adapted to phrase granularity: a word
        // bigram whose within-source DOCUMENT frequency reaches 5 is a
        // template phrase (navigation chrome, license footers, site
        // furniture), and each doc is scored by the fraction of its
        // bigram OCCURRENCES that are boilerplate. Integer-exact
        // throughout: per-doc fractions are ppm via integral division,
        // summed as bigints per source, so no float summation-order
        // hazard anywhere.
        //
        // Scale shape: occurrence stream is exploded once (linear in
        // token volume); doc frequency reduces the DISTINCT per-doc
        // types with map-side combine on (source, gram); the
        // boilerplate set is df-thresholded and therefore tiny
        // relative to the corpus, but it is corpus-derived, so it
        // re-joins the occurrence stream with a standard (source,
        // gram)-keyed shuffle equi-join — never a broadcast of
        // unbounded corpus state. No doc x doc pairs anywhere.
        val bp = boilerplateSet(docs(s, dir))
          .localCheckpoint(eager = false) // reused by the phrase count + the score join
        val perDoc = boilerplatePerDoc(docs(s, dir), bp)
        val phrases = bp.groupBy("source")
          .agg(count(lit(1)).as("n_phrases"))
        perDoc.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_bp").as("n_bp_occ"),
            sum("frac_ppm").as("sum_frac_ppm"))
          .join(phrases, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_phrases"), lit(0L)).as("n_phrases"),
            col("n_bp_occ"), col("sum_frac_ppm"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (SELECT doc_id, source, $duckToks AS t
            FROM documents),
          dd AS (SELECT doc_id, source, t FROM d WHERE len(t) >= 2),
          big AS (SELECT doc_id, source,
              unnest(list_transform(range(1, len(t)),
                i -> t[i] || ' ' || t[i+1])) AS g
            FROM dd),
          ty AS (SELECT DISTINCT doc_id, source, g FROM big),
          dfreq AS (SELECT source, g, count(*)::BIGINT AS df
            FROM ty GROUP BY 1, 2),
          bp AS (SELECT source, g FROM dfreq WHERE df >= 5),
          pd AS (SELECT big.doc_id, big.source,
              count(*)::BIGINT AS n_big,
              sum(CASE WHEN bp.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                AS n_bp
            FROM big LEFT JOIN bp ON bp.source = big.source
              AND bp.g = big.g
            GROUP BY 1, 2),
          ph AS (SELECT source, count(*)::BIGINT AS n_phrases
            FROM bp GROUP BY 1),
          agg AS (SELECT source, count(*)::BIGINT AS n_docs,
              sum(n_bp)::BIGINT AS n_bp_occ,
              sum(n_bp * 1000000 // n_big)::BIGINT AS sum_frac_ppm
            FROM pd GROUP BY 1)
        SELECT agg.source, n_docs,
          coalesce(ph.n_phrases, 0)::BIGINT AS n_phrases,
          n_bp_occ, sum_frac_ppm
        FROM agg LEFT JOIN ph ON ph.source = agg.source
        ORDER BY 1"""),
      "Per-source boilerplate-phrase detection (df >= 5 bigrams) with " +
        "integer-ppm per-doc boilerplate fractions — the CCNet-style " +
        "template-removal signal as one explode + one type reduce + " +
        "one (source, gram)-keyed score join; no doc pairs."),

    GraftQuery(
      "q_pipeline_pairs", Seq("D1", "D2", "J11", "P6"),
      (s, dir) => {
        // CROSS-MODAL pair dedup — the LAION-style step no single-
        // modality pass covers: a (text, image) training pair is a
        // duplicate if EITHER its caption near-dups (minhash-LSH
        // bands, the q_dedup_cluster geometry) or its image
        // fingerprint collides (3 x 21-bit pHash bands — pigeonhole-
        // lossless for hamming <= 2, and wide enough that chance
        // band collisions stay rare without a verify stage). One
        // union membership relation feeds ConnectedComponents.byGroup
        // (hub rows, never pairwise edges), so a caption cluster and
        // an image pair sharing one doc GLUE into one component —
        // the transitive multimodal dup set. Per component: size,
        // member fingerprint, and the number of modalities whose
        // shared buckets actually connect it (2 = a genuinely
        // cross-modal cluster). Images plant exact pairs across
        // id-adjacent docs (doc_id % 7 in {0,1} share pixels), which
        // cut across the corpus's caption clusters. Scale shape:
        // membership union is explode-sized, CC is the label-prop
        // loop, the modality rollup is one keyed aggregate.
        import graft.operators.{ConnectedComponents, PixelDecode}
        val phashOf = udf((docId: Long) => {
          val k = if (docId % 7 < 2) docId - docId % 7 else docId
          val gray = new Array[Int](1024)
          PipelineQueries.md5Fill(gray, blk => s"pair:$k:$blk")
          PixelDecode.pHash(gray, 32, 32)
        })
        val base = docs(s, dir)
        val tm = dedupMembershipOf(base)
          .select(col("doc_id"),
            concat(lit("t:"), col("gkey")).as("gkey"))
        val im = base.select(col("doc_id"))
          .withColumn("ph", phashOf(col("doc_id")))
          .withColumn("j", explode(sequence(lit(0), lit(2))))
          .select(col("doc_id"), concat_ws(":", lit("i"), col("j"),
            expr("shiftright(ph, j * 21) & 2097151")).as("gkey"))
        val mem = tm.unionAll(im).localCheckpoint(eager = false)
        val comp = ConnectedComponents.byGroup(mem, "doc_id", "gkey")
        val sharedMods = mem.join(comp, Seq("doc_id"))
          .groupBy(col("component"), col("gkey"))
          .agg(count(lit(1)).as("n"))
          .where(col("n") >= 2)
          .groupBy("component")
          .agg(countDistinct(expr("substring(gkey, 1, 1)"))
            .as("modalities"))
        comp.groupBy("component")
          .agg(count(lit(1)).as("n_pairs"),
            sort_array(collect_list(col("doc_id"))).as("ms"))
          .where(col("n_pairs") >= 2)
          .join(sharedMods, Seq("component"))
          .select(col("component").as("canonical"), col("n_pairs"),
            expr("md5(concat_ws(',', transform(ms, x -> cast(x as string))))")
              .as("members_fp"),
            col("modalities"))
          .orderBy("canonical")
      },
      Some {
        val ctvals = (for (u <- 0 until 8; x <- 0 until 32)
          yield s"($u,$x,${graft.operators.PixelDecode.DctCos(u)(x)})")
          .mkString(",")
        s"""WITH RECURSIVE ct(u, x, cv) AS (SELECT * FROM (VALUES $ctvals) v(u, x, cv)),
        d AS (SELECT doc_id, $duckToks AS t FROM documents),
        s3 AS (SELECT doc_id,
            list_distinct(list_transform(range(1, len(t)-1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
          FROM d WHERE len(t) >= 3),
        sigs AS (SELECT doc_id,
            list_transform(range(0, 16), s ->
              list_min(list_transform(sh, g ->
                (${dh("g")} & 2147483647) * (2 * s + 1)
                  + s * 2654435761))) AS sig
          FROM s3),
        tmem AS (SELECT doc_id, 't:' || b || ':' ||
            md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS gkey
          FROM sigs, unnest([0,1,2,3]) AS u(b)),
        px AS (SELECT doc_id, (i // 32) AS r, (i % 32) AS c,
            ('0x' || substr(md5('pair:' ||
                (CASE WHEN doc_id % 7 < 2 THEN doc_id - doc_id % 7
                  ELSE doc_id END)::VARCHAR || ':' ||
                (i // 16)::VARCHAR),
              (i % 16) * 2 + 1, 2))::BIGINT AS g
          FROM documents, (SELECT unnest(range(1024)) AS i)),
        t1 AS (SELECT px.doc_id, ct.u AS u, px.c AS y,
            sum(px.g * ct.cv)::BIGINT AS t
          FROM px JOIN ct ON ct.x = px.r GROUP BY 1, 2, 3),
        co AS (SELECT t1.doc_id, t1.u AS u, ct.u AS v,
            sum(t1.t * ct.cv)::BIGINT AS coef
          FROM t1 JOIN ct ON ct.x = t1.y GROUP BY 1, 2, 3),
        acs AS (SELECT doc_id, u, v, coef,
            row_number() OVER (PARTITION BY doc_id ORDER BY coef) AS rn
          FROM co WHERE NOT (u = 0 AND v = 0)),
        med AS (SELECT doc_id, coef AS med FROM acs WHERE rn = 32),
        ph AS (SELECT a.doc_id,
            sum(CASE WHEN a.coef > m.med
              THEN (1::BIGINT << (a.u * 8 + a.v - 1))
              ELSE 0 END)::BIGINT AS phash
          FROM acs a JOIN med m USING (doc_id) GROUP BY 1),
        imem AS (SELECT doc_id, 'i:' || j || ':' ||
            ((phash >> (j * 21)) & 2097151) AS gkey
          FROM ph, (SELECT unnest(range(3)) AS j) js),
        mem AS (SELECT * FROM tmem UNION ALL SELECT * FROM imem),
        edges AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM mem x JOIN mem y ON x.gkey = y.gkey
            AND x.doc_id != y.doc_id),
        nodes AS (SELECT DISTINCT doc_id FROM mem),
        walk(node, reach) AS (
          SELECT doc_id, doc_id FROM nodes
          UNION
          SELECT w.node, e.b FROM walk w JOIN edges e ON e.a = w.reach),
        comp AS (SELECT node AS doc_id, min(reach) AS canonical
          FROM walk GROUP BY 1),
        cs AS (SELECT canonical, count(*)::BIGINT AS n_pairs,
            md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id))
              AS members_fp
          FROM comp GROUP BY 1 HAVING count(*) >= 2),
        sk AS (SELECT c.canonical, substr(m.gkey, 1, 1) AS mo
          FROM mem m JOIN comp c ON c.doc_id = m.doc_id
          GROUP BY c.canonical, m.gkey HAVING count(*) >= 2),
        mods AS (SELECT canonical, count(DISTINCT mo)::BIGINT AS modalities
          FROM sk GROUP BY 1)
        SELECT cs.canonical, cs.n_pairs, cs.members_fp, mods.modalities
        FROM cs JOIN mods USING (canonical) ORDER BY canonical"""
      },
      "Cross-modal (text, image) pair dedup: minhash caption bands " +
        "UNION 3x21-bit pHash image bands feed one connected-" +
        "components pass — caption clusters and planted image pairs " +
        "glue into transitive multimodal dup sets, with a per-" +
        "component modality count naming the genuinely cross-modal " +
        "clusters; oracle replays minhash, the integer DCT, and the " +
        "label propagation relationally."),

    GraftQuery(
      "q_text_srt", Seq("S1", "P6", "A8"),
      (s, dir) => {
        // SUBTITLE-FILE ingestion (SRT + WebVTT) — sidecar subtitles
        // are a major real transcript source; this is the text-source
        // twin of mp4Cues' in-container bridge. Per doc a subtitle
        // file from id arithmetic: SRT flavor (index lines, comma
        // decimals) for even docs, WebVTT (header block, dot
        // decimals, cue settings, no ids) for odd; every 13th doc's
        // SECOND cue carries a garbage timing line (that block must
        // skip — the malformed-cue gate); every 3rd cue is multi-line
        // (the newline join). The oracle REBUILDS the expected cues
        // from the same arithmetic without parsing, so a timing-math,
        // flavor-dispatch, skip, or line-join slip fails the hash.
        // Stateless per-row parse; one (source) rollup shuffle.
        import graft.operators.TextOps
        val mkSub = udf((docId: Long) => {
          val nc = (docId % 5 + 2).toInt
          val vtt = docId % 2 == 1
          val sb = new StringBuilder
          if (vtt) sb.append("WEBVTT\n\n")
          (0 until nc).foreach { k =>
            val start = (docId % 7) * 537 + k * 2347
            val end = start + 800 + (k % 3) * 350
            def fmt(ms: Long): String = {
              val h = ms / 3600000
              val m = ms / 60000 % 60
              val sec = ms / 1000 % 60
              val mil = ms % 1000
              f"$h%02d:$m%02d:$sec%02d${if (vtt) "." else ","}$mil%03d"
            }
            if (!vtt) sb.append((k + 1).toString).append('\n')
            if (docId % 13 == 0 && k == 1)
              sb.append("not a timing line\n")
            else sb.append(fmt(start)).append(" --> ").append(fmt(end))
              .append(if (vtt) " align:start" else "").append('\n')
            sb.append(s"cue $docId:$k\n")
            if (k % 3 == 0) sb.append(s"second $k\n")
            sb.append('\n')
          }
          sb.toString
        })
        val cues = udf((text: String) => TextOps.subtitleCues(text))
        Tables.load(s, dir, "documents")
          .where(col("doc_id") % 6 === 2)
          .select(col("doc_id"), col("source"))
          .withColumn("c", explode(cues(mkSub(col("doc_id")))))
          .groupBy("source")
          .agg(count(lit(1)).as("n_cues"),
            sum(col("c._2")).as("sum_start"),
            sum(col("c._3")).as("sum_end"),
            sum(length(col("c._4"))).as("sum_len"),
            min(col("c._4")).as("min_text"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source,
            doc_id % 5 + 2 AS nc, (doc_id % 13 = 0) AS corrupt
          FROM documents WHERE doc_id % 6 = 2),
        cues AS (SELECT doc_id, source,
            ((doc_id % 7) * 537 + k * 2347)::BIGINT AS start_ms,
            ((doc_id % 7) * 537 + k * 2347 + 800 + (k % 3) * 350)::BIGINT
              AS end_ms,
            CASE WHEN k % 3 = 0
              THEN 'cue ' || doc_id::VARCHAR || ':' || k::VARCHAR ||
                chr(10) || 'second ' || k::VARCHAR
              ELSE 'cue ' || doc_id::VARCHAR || ':' || k::VARCHAR
            END AS text
          FROM d, (SELECT unnest(range(7)) AS k)
          WHERE k < nc AND NOT (corrupt AND k = 1))
        SELECT source, count(*)::BIGINT AS n_cues,
          sum(start_ms)::BIGINT AS sum_start,
          sum(end_ms)::BIGINT AS sum_end,
          sum(length(text))::BIGINT AS sum_len,
          min(text) AS min_text
        FROM cues GROUP BY 1 ORDER BY 1"""),
      "SRT and WebVTT subtitle files parsed into cue rows (timing " +
        "arithmetic, flavor dispatch, multi-line joins, malformed-" +
        "block skip) — the oracle rebuilds every expected cue from " +
        "the id arithmetic without parsing, pinning the parser " +
        "end-to-end."),

    GraftQuery(
      "q_text_warc", Seq("S1", "P6", "A8"),
      (s, dir) => {
        // WARC ingestion (ISO 28500 — the Common Crawl container, the
        // format a web-scale corpus build actually starts from): per
        // doc a WARC of 1 warcinfo + nc response records, layout
        // varying per doc — plain for even docs, gzip member-per-
        // record (Common Crawl's seekable layout) for doc%4==1,
        // coarser 3-record members for doc%4==3 — extracted through
        // the production warcDocuments bridge (record walk -> HTTP
        // split -> text rows). Every 13th doc carries a garbage tail
        // after its first response: the forgiving-stream contract
        // keeps exactly the records before it. The oracle rebuilds
        // every expected (uri, status, text) from the id arithmetic
        // without parsing — a header-walk, Content-Length, gzip-
        // member, or UTF-8 split slip fails the hash. Stateless
        // per-row parse; one (source) rollup shuffle.
        import graft.operators.Warc
        val mkWarc = udf((docId: Long) => {
          val nc = (docId % 4 + 2).toInt
          val recs = Warc.WarcRecord("warcinfo", "",
            "application/warc-fields",
            "software: graft\r\n".getBytes("ISO-8859-1")) +:
            (0 until nc).map { k =>
              Warc.WarcRecord("response", s"https://ex.com/$docId/$k",
                "application/http;msgtype=response",
                Warc.synthesizeHttp(200 + (k % 3) * 100, "text/html",
                  s"page $docId:$k" + (if (k % 2 == 1) " é" else "")))
            }
          if (docId % 13 == 0)
            Warc.synthesizeWarc(recs.take(2)) ++
              "CORRUPT TAIL".getBytes("ISO-8859-1")
          else if (docId % 4 == 1) Warc.synthesizeWarcGz(recs, 1)
          else if (docId % 4 == 3) Warc.synthesizeWarcGz(recs, 3)
          else Warc.synthesizeWarc(recs)
        })
        Warc.warcDocuments(
            Tables.load(s, dir, "documents")
              .where(col("doc_id") % 6 === 4)
              .select(col("doc_id"), col("source"))
              .withColumn("blob", mkWarc(col("doc_id"))), "blob")
          .groupBy("source")
          .agg(count(lit(1)).as("n_resp"),
            sum(col("http_status")).as("sum_status"),
            sum(length(col("text"))).as("sum_len"),
            min(col("uri")).as("min_uri"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source,
            doc_id % 4 + 2 AS nc, (doc_id % 13 = 0) AS corrupt
          FROM documents WHERE doc_id % 6 = 4),
        r AS (SELECT doc_id, source,
            'https://ex.com/' || doc_id::VARCHAR || '/' || k::VARCHAR
              AS uri,
            (200 + (k % 3) * 100)::BIGINT AS status,
            'page ' || doc_id::VARCHAR || ':' || k::VARCHAR ||
              CASE WHEN k % 2 = 1 THEN ' é' ELSE '' END AS text
          FROM d, (SELECT unnest(range(6)) AS k)
          WHERE k < nc AND NOT (corrupt AND k >= 1))
        SELECT source, count(*)::BIGINT AS n_resp,
          sum(status)::BIGINT AS sum_status,
          sum(length(text))::BIGINT AS sum_len,
          min(uri) AS min_uri
        FROM r GROUP BY 1 ORDER BY 1"""),
      "WARC archives (plain + both gzip member layouts) through the " +
        "production record walk and HTTP split into text rows — the " +
        "oracle rebuilds every expected (uri, status, text) from the " +
        "id arithmetic without parsing; garbage tails keep exactly " +
        "the records before them (the forgiving-stream contract)."),

    GraftQuery(
      "q_text_wet", Seq("S1", "P6", "A8"),
      (s, dir) => {
        // WET ingestion — Common Crawl's pre-extracted-text sibling
        // of WARC and the file real text pipelines overwhelmingly
        // read: conversion records carry a PLAIN-TEXT payload (no
        // HTTP envelope), so the bridge is the record walk alone.
        // Per doc: warcinfo + nc conversion records + one RESPONSE
        // record wetDocuments must IGNORE; gzip member-per-record
        // for odd docs; every 13th doc keeps only its first
        // conversion record (forgiving tail). Stateless per-row
        // parse; one (source) rollup shuffle.
        import graft.operators.Warc
        val mkWet = udf((docId: Long) => {
          val nc = (docId % 3 + 2).toInt
          val recs = Warc.WarcRecord("warcinfo", "",
            "application/warc-fields",
            "software: graft\r\n".getBytes("ISO-8859-1")) +:
            ((0 until nc).map { k =>
              Warc.WarcRecord("conversion",
                s"https://ex.org/$docId/$k", "text/plain",
                (s"extracted $docId:$k" +
                  (if (k % 2 == 1) " é" else "")).getBytes("UTF-8"))
            } :+ Warc.WarcRecord("response",
              s"https://ex.org/$docId/http",
              "application/http;msgtype=response",
              Warc.synthesizeHttp(200, "text/html", "not wet")))
          if (docId % 13 == 0)
            Warc.synthesizeWarc(recs.take(2)) ++
              "CORRUPT TAIL".getBytes("ISO-8859-1")
          else if (docId % 2 == 1) Warc.synthesizeWarcGz(recs, 1)
          else Warc.synthesizeWarc(recs)
        })
        Warc.wetDocuments(
            Tables.load(s, dir, "documents")
              .where(col("doc_id") % 6 === 3)
              .select(col("doc_id"), col("source"))
              .withColumn("blob", mkWet(col("doc_id"))), "blob")
          .groupBy("source")
          .agg(count(lit(1)).as("n_conv"),
            sum(length(col("text"))).as("sum_len"),
            min(col("uri")).as("min_uri"),
            min(col("text")).as("min_text"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source, doc_id % 3 + 2 AS nc,
            (doc_id % 13 = 0) AS corrupt
          FROM documents WHERE doc_id % 6 = 3),
        r AS (SELECT doc_id, source,
            'https://ex.org/' || doc_id::VARCHAR || '/' || k::VARCHAR
              AS uri,
            'extracted ' || doc_id::VARCHAR || ':' || k::VARCHAR ||
              CASE WHEN k % 2 = 1 THEN ' é' ELSE '' END AS text
          FROM d, (SELECT unnest(range(4)) AS k)
          WHERE k < nc AND NOT (corrupt AND k >= 1))
        SELECT source, count(*)::BIGINT AS n_conv,
          sum(length(text))::BIGINT AS sum_len,
          min(uri) AS min_uri, min(text) AS min_text
        FROM r GROUP BY 1 ORDER BY 1"""),
      "WET files (Common Crawl's pre-extracted-text sibling of " +
        "WARC): conversion records flow to text rows through the " +
        "record walk alone — no HTTP envelope — response records " +
        "ignored, both gzip layouts, forgiving tails; the oracle " +
        "rebuilds every expected (uri, text) from the id " +
        "arithmetic."),

    GraftQuery(
      "q_pipeline_cc", Seq("S1", "P6", "D1", "D9"),
      (s, dir) => {
        // The COMMON CRAWL front-end, composed end-to-end in the
        // published CCNet order: WARC archives (gzip member-per-
        // record for leg-1 mirrors; leg-0 pages windows-1252-ENCODED,
        // declared via the Content-Type header for some groups and a
        // <meta charset> tag for others — both charset paths are
        // LOAD-BEARING, a UTF-8-only decode would mojibake the é and
        // break the mirror dedup) -> record walk + HTTP split
        // (warcDocuments) -> LINE-STRUCTURED html -> text (htmlText:
        // block tags to newlines) -> crawl-level URL dedup
        // (normalizeUrl: tracking params + fragment stripped, the
        // planted ?utm twin of every first page drops) -> per-host
        // BOILERPLATE line removal (the planted NAV/FOOTER lines sit
        // at 100% document frequency and vanish; the PROMO line at
        // ~40% must SURVIVE the 0.6 threshold) -> token-count quality
        // gate -> exact-text mirror dedup with keep-smallest (leg-1
        // drops against its leg-0 twin) -> marker-word langid ->
        // unigram-LM perplexity terciles per language (ntile 3) ->
        // per-source funnel counts. Corrupt docs (every 13th) lose
        // everything after their first response at the WARC gate;
        // short docs (every 11th) lose their pages at the quality
        // gate. The oracle rebuilds the EXPECTED text of every page
        // from id arithmetic — a record-walk, gzip, charset,
        // tag-strip, entity, URL-normalize, boilerplate, dedup, or
        // bucketing slip fails the hash. At 100 TB every stage
        // shuffles on hash keys (nurl / (host, line) / text / word)
        // and the LM model is two keyed aggs + a broadcast total —
        // no driver-side state anywhere.
        import graft.operators.{TextOps, Warc}
        import org.apache.spark.sql.expressions.Window
        val mkWarc = udf((docId: Long, g: Long, leg: Int) => {
          val nr = (g / 12 % 3 + 2).toInt
          val short = docId % 11 == 0
          val promo = g / 12 % 5 < 2
          val viaMeta = g / 12 % 3 == 1
          val en = g / 12 % 2 == 0
          val host = s"m$leg.ex.com"
          def html(k: Int): String = {
            val markers =
              if (en) s"the of is was word $g"
              else s"le et les une mot $g"
            "<html>" +
              // only the windows-1252 leg declares its charset in a
              // meta tag — the UTF-8 mirror must not lie about its
              // encoding (the sniffer would honor it)
              (if (viaMeta && leg == 0)
                 "<head><meta charset=\"windows-1252\"></head>"
               else "") +
              s"<body><div>NAV ex.com menu</div><h1>Page $g $k</h1>" +
              (if (short) ""
               else s"<p>café &amp; text $g:$k &#233;</p>" +
                 (if (promo) "<div>PROMO visit us today now</div>"
                  else "") +
                 s"<p>$markers</p>") +
              s"<div>FOOTER $host</div>" +
              "<script>var x = 1;</script></body></html>"
          }
          val charset = if (leg == 0) "windows-1252" else "UTF-8"
          val ctype =
            if (leg == 0 && !viaMeta) "text/html; charset=iso-8859-1"
            else "text/html"
          def resp(k: Int, uri: String) =
            Warc.WarcRecord("response", uri,
              "application/http;msgtype=response",
              Warc.synthesizeHttp(200, ctype, html(k), charset))
          val pages = (0 until nr).flatMap { k =>
            val bare = resp(k, s"https://$host/$g/$k")
            if (k == 0)
              Seq(bare, resp(0,
                s"https://$host/$g/0?utm_source=promo&fbclid=z#top"))
            else Seq(bare)
          }
          val recs = Warc.WarcRecord("warcinfo", "",
            "application/warc-fields",
            "software: graft\r\n".getBytes("ISO-8859-1")) +: pages
          if (docId % 13 == 0)
            Warc.synthesizeWarc(recs.take(2)) ++
              "CORRUPT TAIL".getBytes("ISO-8859-1")
          else if (leg == 1) Warc.synthesizeWarcGz(recs, 1)
          else Warc.synthesizeWarc(recs)
        })
        val strip = udf((html: String) => TextOps.htmlText(html))
        val norm = udf((u: String) => TextOps.normalizeUrl(u))
        val pages = Warc.warcDocuments(
            Tables.load(s, dir, "documents")
              .where(col("doc_id") % 6 === 5)
              .select(col("doc_id"), col("source"))
              .withColumn("g", expr("doc_id - doc_id % 12"))
              .withColumn("leg", expr("cast((doc_id % 12) div 6 as int)"))
              .withColumn("blob",
                mkWarc(col("doc_id"), col("g"), col("leg"))), "blob")
          .withColumn("text", strip(col("text")))
          .withColumn("host", expr("parse_url(uri, 'HOST')"))
          .select("doc_id", "source", "uri", "host", "text")
          .localCheckpoint(eager = false) // ONE extraction pass feeds every stage
        // crawl-level dedup first: canonical URL, keep-first
        val urlUniq = pages
          .withColumn("nurl", norm(col("uri")))
          .withColumn("urk", row_number().over(
            Window.partitionBy("nurl").orderBy("doc_id", "uri")))
          .where(col("urk") === 1).drop("urk", "nurl")
        // CCNet per-host boilerplate-line removal
        val boiled = TextOps.removeBoilerplate(
            urlUniq, "host", "uri", "text")
          .localCheckpoint(eager = false) // frequency pass runs once
        val qual = boiled
          .where(size(split(col("text"), "\\s+")) >= 5)
        val uniq = qual.withColumn("rk",
            row_number().over(Window.partitionBy(col("text"))
              .orderBy(col("doc_id"), col("uri"))))
          .where(col("rk") === 1).drop("rk")
          .withColumn("t", expr("filter(split(text, '\\\\s+'), x -> x != '')"))
          .withColumn("s_en", expr(
            "size(filter(t, x -> array_contains(array('the','of','is','was'), x)))"))
          .withColumn("s_fr", expr(
            "size(filter(t, x -> array_contains(array('le','et','les','une'), x)))"))
          .withColumn("predicted",
            expr("case when s_en >= s_fr then 'en' else 'fr' end"))
          .localCheckpoint(eager = false) // feeds the LM model AND the scoring join
        // CCNet LM stage: unigram self-perplexity over the kept
        // corpus, integer-scaled logs (the cross-engine-exact
        // discipline of q_text_perplexity), terciles per language
        val toks = uniq.select(col("doc_id"), col("uri"),
          explode(col("t")).as("w"))
        val cw = toks.groupBy("w").agg(count(lit(1)).as("cw"))
        val tot = cw.agg(sum("cw").as("tot"))
        val scored = toks.join(cw, Seq("w"))
          .crossJoin(broadcast(tot))
          .withColumn("sc", expr(
            "cast(round(-ln(cast(cw as double) / cast(tot as double)) " +
              "* 10000) as bigint)"))
          .groupBy("doc_id", "uri")
          .agg(sum("sc").as("ss"), count(lit(1)).as("nt"))
        val bucketed = uniq.join(scored, Seq("doc_id", "uri"))
          .withColumn("ppl", expr("ss div nt"))
          .withColumn("bkt", ntile(3).over(
            Window.partitionBy("predicted")
              .orderBy(col("ppl"), col("doc_id"), col("uri"))))
        import graft.operators.CorpusFunnel
        import graft.operators.CorpusFunnel.{AggStage, CountStage}
        CorpusFunnel.stageCounts("source", Seq(
          CountStage("n_pages", pages),
          CountStage("n_url", urlUniq),
          CountStage("n_quality", qual),
          AggStage(bucketed.groupBy("source")
            .agg(count(lit(1)).as("n_unique"),
              sum(when(col("predicted") === "en", 1L).otherwise(0L))
                .as("n_en"),
              sum(when(col("predicted") === "fr", 1L).otherwise(0L))
                .as("n_fr"),
              sum(when(col("bkt") === 1, 1L).otherwise(0L))
                .as("n_head"),
              sum(when(col("bkt") === 3, 1L).otherwise(0L))
                .as("n_tail"),
              sum(length(col("text"))).as("kept_len"),
              min(col("uri")).as("min_uri")),
            Seq("n_unique", "n_en", "n_fr", "n_head", "n_tail",
              "kept_len", "min_uri"))), sparse = true)
      },
      Some("""WITH d AS (SELECT doc_id, source,
            doc_id - doc_id % 12 AS g,
            ((doc_id % 12) // 6)::BIGINT AS leg,
            (doc_id % 13 = 0) AS corrupt, (doc_id % 11 = 0) AS short
          FROM documents WHERE doc_id % 6 = 5),
        p0 AS (SELECT doc_id, source, g, leg, k, short, corrupt,
            ((g // 12) % 2 = 0) AS en, ((g // 12) % 5 < 2) AS promo,
            'https://m' || leg::VARCHAR || '.ex.com/' || g::VARCHAR ||
              '/' || k::VARCHAR AS uri
          FROM d, (SELECT unnest(range(5)) AS k)
          WHERE k < (g // 12 % 3) + 2 AND NOT (corrupt AND k >= 1)),
        p AS (SELECT *,
            CASE WHEN short
              THEN 'Page ' || g::VARCHAR || ' ' || k::VARCHAR
              ELSE 'Page ' || g::VARCHAR || ' ' || k::VARCHAR ||
                chr(10) || 'café & text ' || g::VARCHAR || ':' ||
                k::VARCHAR || ' é' ||
                CASE WHEN promo
                  THEN chr(10) || 'PROMO visit us today now'
                  ELSE '' END ||
                chr(10) ||
                CASE WHEN en THEN 'the of is was word ' || g::VARCHAR
                     ELSE 'le et les une mot ' || g::VARCHAR END
            END AS text
          FROM p0),
        q AS (SELECT * FROM p
          WHERE len(regexp_split_to_array(text, '\s+')) >= 5),
        u AS (SELECT * FROM (SELECT *, row_number() OVER (
            PARTITION BY text ORDER BY doc_id, uri) AS rn FROM q)
          WHERE rn = 1),
        tok AS (SELECT doc_id, uri,
            unnest(list_filter(regexp_split_to_array(text, '\s+'),
              x -> x != '')) AS w
          FROM u),
        cw AS (SELECT w, count(*)::BIGINT AS cw FROM tok GROUP BY 1),
        tt AS (SELECT sum(cw)::BIGINT AS tot FROM cw),
        sc AS (SELECT doc_id, uri,
            sum(round(-ln(cw::DOUBLE / tot::DOUBLE) * 10000)::BIGINT)
              ::BIGINT AS ss,
            count(*)::BIGINT AS nt
          FROM tok JOIN cw USING (w), tt GROUP BY 1, 2),
        bk AS (SELECT u.source,
            CASE WHEN u.en THEN 'en' ELSE 'fr' END AS predicted,
            ntile(3) OVER (PARTITION BY u.en
              ORDER BY sc.ss // sc.nt, u.doc_id, u.uri) AS bkt,
            length(u.text) AS tlen, u.uri
          FROM u JOIN sc USING (doc_id, uri)),
        np AS (SELECT source, count(*)::BIGINT +
            count(DISTINCT CASE WHEN NOT corrupt THEN doc_id END)
              ::BIGINT AS n_pages,
            count(*)::BIGINT AS n_url
          FROM p0 GROUP BY 1),
        nq AS (SELECT source, count(*)::BIGINT AS n_quality
          FROM q GROUP BY 1),
        fin AS (SELECT source, count(*)::BIGINT AS n_unique,
            sum(CASE WHEN predicted = 'en' THEN 1 ELSE 0 END)::BIGINT
              AS n_en,
            sum(CASE WHEN predicted = 'fr' THEN 1 ELSE 0 END)::BIGINT
              AS n_fr,
            sum(CASE WHEN bkt = 1 THEN 1 ELSE 0 END)::BIGINT AS n_head,
            sum(CASE WHEN bkt = 3 THEN 1 ELSE 0 END)::BIGINT AS n_tail,
            sum(tlen)::BIGINT AS kept_len,
            min(uri) AS min_uri
          FROM bk GROUP BY 1)
        SELECT np.source, np.n_pages, np.n_url,
          COALESCE(nq.n_quality, 0) AS n_quality,
          COALESCE(fin.n_unique, 0) AS n_unique,
          COALESCE(fin.n_en, 0) AS n_en,
          COALESCE(fin.n_fr, 0) AS n_fr,
          COALESCE(fin.n_head, 0) AS n_head,
          COALESCE(fin.n_tail, 0) AS n_tail,
          COALESCE(fin.kept_len, 0) AS kept_len,
          fin.min_uri AS min_uri
        FROM np
        LEFT JOIN nq USING (source)
        LEFT JOIN fin USING (source)
        ORDER BY np.source"""),
      "The Common Crawl front-end composed end-to-end in CCNet " +
        "order: WARC record walk + charset-aware HTTP split -> " +
        "line-structured html-to-text -> URL-canonicalization dedup " +
        "-> per-host boilerplate-line removal -> quality gate -> " +
        "exact-text mirror dedup -> marker langid -> unigram-LM " +
        "perplexity terciles — per-source funnel counts, the oracle " +
        "rebuilding every expected page text (including the " +
        "windows-1252 legs) from id arithmetic without any parsing."),

    GraftQuery(
      "q_text_boilerlines", Seq("P6", "D1", "A8"),
      (s, dir) => {
        // Per-host BOILERPLATE removal (the CCNet step after
        // html->text): every host's pages share HEADER/FOOTER lines
        // (100% document frequency -> dropped at minFrac 0.6), about
        // a third carry a promo line (<= 0.5 df by construction ->
        // KEPT: the threshold must not over-fire), and body lines are
        // unique (kept). Pure DataFrame algebra — explode, two keyed
        // aggs, anti-join, ordered reassembly — no UDF anywhere, so
        // the op itself is whole-stage-codegen and shuffles only on
        // (host, line)/(host, doc) keys at any scale. The oracle
        // replays the document-frequency arithmetic and the ordered
        // reassembly relationally, pinning threshold, order, and the
        // host-size guard.
        import graft.operators.TextOps
        val docs = Tables.load(s, dir, "documents")
          .where(col("doc_id") % 6 === 1)
          .select(col("doc_id"), col("source"))
          .withColumn("host", concat(lit("h"), col("doc_id") % 10))
          .withColumn("page", concat_ws("\n",
            concat(lit("HEADER site "), col("host")),
            when(expr("(doc_id div 30) % 3 = 0"),
              concat(lit("promo "), col("host"))),
            concat(lit("body "), col("doc_id"), lit(" line 0")),
            concat(lit("body "), col("doc_id"), lit(" line 1")),
            concat(lit("FOOTER "), col("host"))))
        TextOps.removeBoilerplate(docs, "host", "doc_id", "page")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("page"))).as("sum_len"),
            sum(when(col("page").contains("promo"), 1L).otherwise(0L))
              .as("n_promo"),
            sum(when(col("page").contains("HEADER") ||
              col("page").contains("FOOTER"), 1L).otherwise(0L))
              .as("n_boiler_left"),
            min(col("page")).as("min_page"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source,
            'h' || (doc_id % 10)::VARCHAR AS host,
            ((doc_id // 30) % 3 = 0) AS promo
          FROM documents WHERE doc_id % 6 = 1),
        lines AS (
          SELECT doc_id, source, host, 0 AS idx,
            'HEADER site ' || host AS line FROM d
          UNION ALL
          SELECT doc_id, source, host, 1, 'promo ' || host
          FROM d WHERE promo
          UNION ALL
          SELECT doc_id, source, host, 2,
            'body ' || doc_id::VARCHAR || ' line 0' FROM d
          UNION ALL
          SELECT doc_id, source, host, 3,
            'body ' || doc_id::VARCHAR || ' line 1' FROM d
          UNION ALL
          SELECT doc_id, source, host, 4, 'FOOTER ' || host FROM d),
        hd AS (SELECT host, count(DISTINCT doc_id)::BIGINT AS n_docs
          FROM d GROUP BY 1),
        ldf AS (SELECT host, line,
            count(DISTINCT doc_id)::BIGINT AS df
          FROM lines GROUP BY 1, 2),
        boiler AS (SELECT ldf.host, ldf.line
          FROM ldf JOIN hd USING (host)
          WHERE hd.n_docs >= 3 AND ldf.df >= hd.n_docs * 0.6),
        kept AS (SELECT l.* FROM lines l
          LEFT JOIN boiler b ON b.host = l.host AND b.line = l.line
          WHERE b.line IS NULL),
        cleaned AS (SELECT doc_id, source,
            COALESCE(string_agg(line, chr(10) ORDER BY idx), '')
              AS page
          FROM kept GROUP BY 1, 2)
        SELECT source, count(*)::BIGINT AS n_docs,
          sum(length(page))::BIGINT AS sum_len,
          sum(CASE WHEN page LIKE '%promo%' THEN 1 ELSE 0 END)::BIGINT
            AS n_promo,
          sum(CASE WHEN page LIKE '%HEADER%' OR page LIKE '%FOOTER%'
            THEN 1 ELSE 0 END)::BIGINT AS n_boiler_left,
          min(page) AS min_page
        FROM cleaned GROUP BY 1 ORDER BY 1"""),
      "Per-host boilerplate removal: host-global header/footer lines " +
        "drop at >= 60% document frequency while sub-threshold promo " +
        "lines and unique body lines survive, order preserved — pure " +
        "DataFrame algebra (no UDF), the oracle replaying the " +
        "frequency arithmetic and ordered reassembly relationally."),

    GraftQuery(
      "q_text_urlnorm", Seq("P6", "D1", "A8"),
      (s, dir) => {
        // URL canonicalization — the crawl-level dedup step BEFORE
        // content dedup: each content group is crawled twice under
        // messy variants (scheme/host case, explicit default ports,
        // utm_*/fbclid tracking params, unsorted query order,
        // fragments) that must normalize to ONE canonical form, so
        // countDistinct(canonical) halves the URL count. The oracle
        // REBUILDS the expected canonical string from the id
        // arithmetic — any slip in case folding, port dropping,
        // param stripping/sorting, or fragment removal changes
        // n_canonical/min_url and fails the hash.
        import graft.operators.TextOps
        val docs = Tables.load(s, dir, "documents")
          .where(col("doc_id") % 6 === 3)
          .select(col("doc_id"), col("source"))
          .withColumn("g", expr("doc_id - doc_id % 12"))
          .withColumn("url",
            when(col("doc_id") % 12 === 3, concat(
              lit("HTTPS://EX"), col("g") % 5, lit(".COM:443/p/"),
              col("g"), lit("?b="), col("g") % 7,
              lit("&utm_campaign=z&a="), col("g") % 3,
              lit("#frag"), col("doc_id")))
            .otherwise(concat(
              lit("https://ex"), col("g") % 5, lit(".com/p/"),
              col("g"), lit("?a="), col("g") % 3,
              lit("&fbclid=x"), col("doc_id"),
              lit("&b="), col("g") % 7)))
        val norm = udf((u: String) => TextOps.normalizeUrl(u))
        val canon = docs.withColumn("canonical", norm(col("url")))
        // global canonical counts make the cross-variant collapse
        // EXPLICIT: a URL is mirrored iff its canonical form also
        // arrived from the other crawl leg (an equi-join on the
        // canonical key — the URL-dedup shuffle shape at any scale)
        val global = canon.groupBy("canonical")
          .agg(count(lit(1)).as("n_dup"))
        canon.join(global, Seq("canonical"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_urls"),
            countDistinct(col("canonical")).as("n_canonical"),
            sum(when(col("n_dup") >= 2, 1L).otherwise(0L))
              .as("n_mirrored"),
            sum(length(col("canonical"))).as("sum_len"),
            min(col("canonical")).as("min_url"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source,
            doc_id - doc_id % 12 AS g
          FROM documents WHERE doc_id % 6 = 3),
        c AS (SELECT doc_id, source,
            'https://ex' || (g % 5)::VARCHAR || '.com/p/' ||
              g::VARCHAR || '?a=' || (g % 3)::VARCHAR ||
              '&b=' || (g % 7)::VARCHAR AS canonical
          FROM d),
        gl AS (SELECT canonical, count(*)::BIGINT AS n_dup
          FROM c GROUP BY 1)
        SELECT source, count(*)::BIGINT AS n_urls,
          count(DISTINCT c.canonical)::BIGINT AS n_canonical,
          sum(CASE WHEN gl.n_dup >= 2 THEN 1 ELSE 0 END)::BIGINT
            AS n_mirrored,
          sum(length(c.canonical))::BIGINT AS sum_len,
          min(c.canonical) AS min_url
        FROM c JOIN gl USING (canonical)
        GROUP BY 1 ORDER BY 1"""),
      "URL canonicalization for crawl dedup: scheme/host case, " +
        "default ports, tracking params, query order, and fragments " +
        "all normalize away so mirror crawls collapse to one " +
        "canonical URL — the oracle rebuilds the exact expected " +
        "string per URL from id arithmetic."),

    GraftQuery(
      "q_text_paradedup", Seq("P6", "D1", "A8"),
      (s, dir) => {
        // PARAGRAPH-LEVEL dedup — CCNet's actual dedup unit (page
        // dedup misses cross-host repeated paragraphs). Per doc:
        // a GLOBAL header paragraph (case/punctuation variants that
        // must collapse under the aggressive key -> survives only
        // in the corpus-first doc), a GROUP paragraph shared by the
        // doc's mod-24 group (case + '!!' variants -> one survivor
        // per group), a stats paragraph whose only difference is
        // DIGITS (the key strips them -> one survivor globally,
        // carrying ITS OWN digit width into sum_len — a digit-
        // stripping slip changes both counts and lengths), and 2-3
        // unique body paragraphs (always kept). Keep-first is
        // (doc_id, position) — the deterministic distributed analog
        // of CCNet's first-seen-hash rule. The operator is pure
        // DataFrame algebra (explode, a row_number window on the
        // normalized key, ordered reassembly — hash-partitioned
        // shuffles only); the oracle replays the normalization,
        // the window, and the reassembly relationally.
        import graft.operators.TextOps
        val docs = Tables.load(s, dir, "documents")
          .where(col("doc_id") % 6 === 2)
          .select(col("doc_id"), col("source"))
          .withColumn("g", expr("doc_id - doc_id % 24"))
          .withColumn("lg", expr(
            "translate(cast(g as string), '0123456789', 'abcdefghij')"))
          .withColumn("ld", expr(
            "translate(cast(doc_id as string), '0123456789'," +
              " 'abcdefghij')"))
          .withColumn("text", expr(
            "concat_ws('\\n'," +
              " case when doc_id % 2 = 0 then 'Shared Header Intro.'" +
              "      else 'shared header intro' end," +
              " case when doc_id % 2 = 0 then concat('group notes ', lg)" +
              "      else concat('Group Notes ', lg, '!!') end," +
              " concat('stats: ', cast(doc_id as string), ' views')," +
              " concat('body ', ld, ' one')," +
              " concat('body ', ld, ' two')," +
              " case when doc_id % 3 = 0 then concat('extra ', ld, ' three')" +
              "      else cast(null as string) end)"))
          .select("doc_id", "source", "text")
        TextOps.dedupParagraphs(docs, "doc_id", "text")
          .withColumn("np", expr(
            "size(filter(split(text, '\\n'), x -> x != ''))"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("np")).as("n_paras"),
            sum(length(col("text"))).as("sum_len"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source,
            doc_id - doc_id % 24 AS g,
            (doc_id % 2 = 0) AS even, (doc_id % 3 = 0) AS extra
          FROM documents WHERE doc_id % 6 = 2),
        base AS (SELECT *,
            translate(g::VARCHAR, '0123456789', 'abcdefghij') AS lg,
            translate(doc_id::VARCHAR, '0123456789', 'abcdefghij')
              AS ld
          FROM d),
        paras AS (
          SELECT doc_id, source, 0 AS idx,
            CASE WHEN even THEN 'Shared Header Intro.'
                 ELSE 'shared header intro' END AS para FROM base
          UNION ALL SELECT doc_id, source, 1,
            CASE WHEN even THEN 'group notes ' || lg
                 ELSE 'Group Notes ' || lg || '!!' END FROM base
          UNION ALL SELECT doc_id, source, 2,
            'stats: ' || doc_id::VARCHAR || ' views' FROM base
          UNION ALL SELECT doc_id, source, 3,
            'body ' || ld || ' one' FROM base
          UNION ALL SELECT doc_id, source, 4,
            'body ' || ld || ' two' FROM base
          UNION ALL SELECT doc_id, source, 5,
            'extra ' || ld || ' three' FROM base WHERE extra),
        keyed AS (SELECT *,
            trim(regexp_replace(regexp_replace(lower(para),
              '[^a-z ]', '', 'g'), ' +', ' ', 'g')) AS key
          FROM paras),
        kept AS (SELECT * FROM (SELECT *, row_number() OVER (
            PARTITION BY key ORDER BY doc_id, idx) AS rk FROM keyed)
          WHERE rk = 1),
        docs AS (SELECT doc_id, source,
            string_agg(para, chr(10) ORDER BY idx) AS text,
            count(*)::BIGINT AS np
          FROM kept GROUP BY 1, 2)
        SELECT source, count(*)::BIGINT AS n_docs,
          sum(np)::BIGINT AS n_paras,
          sum(length(text))::BIGINT AS sum_len
        FROM docs GROUP BY 1 ORDER BY 1"""),
      "CCNet-style paragraph-level dedup: the aggressive letters-" +
        "and-spaces key collapses case/punctuation/digit variants, " +
        "keep-first is corpus-wide (doc, position), documents " +
        "reassemble in order — the oracle replays the key, the " +
        "keep-first window, and the reassembly relationally."),

    GraftQuery(
      "q_text_robots", Seq("P6", "D5", "A8"),
      (s, dir) => {
        // ROBOTS.TXT gate (RFC 9309) over a crawl URL table: hosts
        // alternate between a '*'-only policy (Disallow /priv with
        // an Allow /priv/ok carve-out — longest-match must let the
        // carve-out through) and a policy with a DEDICATED graftbot
        // group (Disallow /no + the anchored wildcard /*.tmp$) —
        // where the most-specific-group rule says the '*' rules are
        // NOT consulted at all, so /priv pages on those hosts pass.
        // robots parse once per host; the URL table joins on the
        // host key (equi-join at any scale); the oracle replays the
        // per-leg expected decisions from the id arithmetic — a
        // group-selection, longest-match, wildcard, or anchor slip
        // changes the kept set and fails the hash.
        import graft.operators.Robots
        val docs = Tables.load(s, dir, "documents")
          .where(col("doc_id") % 6 === 0)
          .select(col("doc_id"), col("source"))
          .withColumn("g", expr("doc_id - doc_id % 12"))
        val robots = docs.groupBy(col("g")).agg(
            count(lit(1)).as("__n"))
          .withColumn("host", expr("concat('h', g, '.com')"))
          .withColumn("txt", expr(
            "case when g % 24 = 0 then" +
              " 'User-agent: *\\nDisallow: /\\n\\n" +
              "User-agent: graftbot\\nDisallow: /no\\n" +
              "Disallow: /*.tmp$\\n'" +
              " else 'User-agent: *\\nDisallow: /priv\\n" +
              "Allow: /priv/ok\\n' end"))
          .select("host", "txt")
        val urls = docs
          .withColumn("k", explode(typedLit(Seq(0, 1, 2, 3, 4))))
          .withColumn("url", expr(
            "concat('https://h', g, '.com'," +
              " case k when 0 then concat('/pub/', doc_id)" +
              " when 1 then concat('/priv/', doc_id)" +
              " when 2 then concat('/priv/ok/', doc_id)" +
              " when 3 then concat('/no/', doc_id)" +
              " else concat('/f', doc_id, '.tmp') end)"))
          .select("doc_id", "source", "url")
        Robots.robotsFilter(urls, "url", robots, "host", "txt",
            "graftbot")
          .groupBy("source")
          .agg(count(lit(1)).as("n_allowed"),
            sum(length(col("url"))).as("sum_len"),
            min(col("url")).as("min_url"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source,
            doc_id - doc_id % 12 AS g
          FROM documents WHERE doc_id % 6 = 0),
        u AS (SELECT doc_id, source, g, k,
            'https://h' || g::VARCHAR || '.com' ||
              CASE k WHEN 0 THEN '/pub/' || doc_id::VARCHAR
                WHEN 1 THEN '/priv/' || doc_id::VARCHAR
                WHEN 2 THEN '/priv/ok/' || doc_id::VARCHAR
                WHEN 3 THEN '/no/' || doc_id::VARCHAR
                ELSE '/f' || doc_id::VARCHAR || '.tmp' END AS url
          FROM d, (SELECT unnest(range(5)) AS k)),
        kept AS (SELECT * FROM u
          WHERE CASE WHEN g % 24 = 0 THEN k NOT IN (3, 4)
                     ELSE k != 1 END)
        SELECT source, count(*)::BIGINT AS n_allowed,
          sum(length(url))::BIGINT AS sum_len, min(url) AS min_url
        FROM kept GROUP BY 1 ORDER BY 1"""),
      "RFC 9309 robots.txt over a crawl URL table: most-specific " +
        "agent-group selection (a dedicated graftbot group hides " +
        "the '*' rules entirely), longest-match with Allow " +
        "carve-outs, '*' wildcards and the '$' anchor — per-host " +
        "parse joined to URLs on the host key, the oracle replaying " +
        "every leg's expected decision from the id arithmetic."),

    GraftQuery(
      "q_text_cdx", Seq("P6", "J9", "A8"),
      (s, dir) => {
        // CDXJ INDEX LOOKUP — how a real corpus build finds records
        // before touching any WARC: captures render to index lines
        // (cdxjLine: SURT urlkey + compact JSON), parse back through
        // the forgiving reader (every 13th doc drags a garbage line
        // the walk must skip; every 11th doc's timestamp is short so
        // ITS capture drops entirely), and a wanted-URL table joins
        // on urlkey == surt(url) — the messy capture spelling
        // (WWW./mixed case/unsorted params) and the clean wanted
        // spelling must canonicalize to the SAME key, while the
        // sibling wanted path must miss. Writer and reader are pure
        // column algebra (to_json/from_json/regexp — codegen, no
        // UDF on the hot path); the join shuffles on the urlkey.
        // The oracle rebuilds expected urlkeys, statuses, and
        // offsets from the id arithmetic alone.
        import graft.operators.Cdx
        val docs = Tables.load(s, dir, "documents")
          .where(col("doc_id") % 7 === 1)
          .select(col("doc_id"), col("source"))
          .withColumn("g", expr("doc_id - doc_id % 10"))
        val lines = docs
          .withColumn("url", expr(
            "concat('https://WWW.h', g, '.Ex.org/p', doc_id," +
              " '?b=', doc_id, '&a=1')"))
          .withColumn("ts", expr(
            "case when doc_id % 11 = 0 then '2026' else" +
              " concat('20260101', lpad(cast(doc_id % 1000000 as" +
              " string), 6, '0')) end"))
          .withColumn("text", concat(
            Cdx.cdxjLine(col("url"), col("ts"), lit("text/html"),
              expr("cast(200 + (doc_id % 3) * 100 as int)"),
              expr("concat('sha1:', doc_id)"),
              expr("cast(100 + doc_id % 50 as bigint)"),
              expr("cast(doc_id * 17 % 100000 as bigint)"),
              expr("concat('crawl-', g, '.warc.gz')")),
            expr("case when doc_id % 13 = 0 then '\\nGARBAGE LINE'" +
              " else '' end")))
          .select("source", "text")
        val recs = Cdx.cdxjRecords(lines, "text")
          .select("urlkey", "status", "offset", "length")
        val wanted = docs
          .withColumn("k", explode(typedLit(Seq(0, 1))))
          .withColumn("wurl", expr(
            "concat('https://h', g, '.ex.org/'," +
              " case when k = 0 then concat('p', doc_id)" +
              " else concat('q', doc_id) end," +
              " '?b=', doc_id, '&a=1')"))
          .select(col("source"), Cdx.surtCol(col("wurl")).as("wkey"))
        recs.join(wanted, col("urlkey") === col("wkey"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_hits"),
            sum(col("status")).as("sum_status"),
            sum(col("offset")).as("sum_off"),
            sum(col("length")).as("sum_blen"),
            min(col("urlkey")).as("min_key"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source,
            doc_id - doc_id % 10 AS g
          FROM documents WHERE doc_id % 7 = 1 AND doc_id % 11 != 0),
        r AS (SELECT source,
            'org,ex,h' || g::VARCHAR || ')/p' || doc_id::VARCHAR ||
              '?a=1&b=' || doc_id::VARCHAR AS urlkey,
            (200 + (doc_id % 3) * 100)::BIGINT AS status,
            (doc_id * 17 % 100000)::BIGINT AS off,
            (100 + doc_id % 50)::BIGINT AS blen
          FROM d)
        SELECT source, count(*)::BIGINT AS n_hits,
          sum(status)::BIGINT AS sum_status,
          sum(off)::BIGINT AS sum_off,
          sum(blen)::BIGINT AS sum_blen,
          min(urlkey) AS min_key
        FROM r GROUP BY 1 ORDER BY 1"""),
      "CDXJ index writer + forgiving reader + SURT-keyed lookup: " +
        "messy capture URLs and clean wanted URLs canonicalize to " +
        "one urlkey (reversal, www/scheme/port dropping, query " +
        "sort), damaged lines and short timestamps drop without " +
        "taking neighbors, and the oracle rebuilds every expected " +
        "key/status/offset from id arithmetic."),

    GraftQuery(
      "q_text_maincontent", Seq("P6", "D5", "A8"),
      (s, dir) => {
        // MAIN-CONTENT extraction (jusText-shaped) — the page-level
        // boilerplate step per-host line frequency cannot catch:
        // every planted page carries a nav link cluster (link
        // density -> bad), a short TITLE that must be RESCUED by
        // its good prose neighbor, a long stopword-dense paragraph
        // (good, with an &amp; entity the scanner must decode), a
        // short aside rescued from the other side, an optional
        // second paragraph (every 3rd doc omits it — the context
        // pass must not depend on it), a link farm (bad), and an
        // orphaned footer whose only decided neighbor is bad ->
        // DROPPED. Classification is pure column algebra + two
        // per-doc windows; the oracle rebuilds each doc's expected
        // extracted text VERBATIM from the id arithmetic — a
        // scanner, link-attribution, threshold, or context slip
        // changes the reassembled text and fails the hash.
        import graft.operators.MainContent
        val mkHtml = udf((docId: Long) => {
          val l = docId.toString.map(c => ('a' + (c - '0')).toChar)
          val c1 = "the story of the day is that the work of the " +
            "team is done &amp; the result of it is good for all " +
            "of us"
          val c2 = "a long account of the plan is set out in the " +
            "notes of the team for the record"
          "<html><body><div><a href=x>Home</a> <a>News</a> " +
            "<a>About</a></div>" +
            s"<h1>Title $l</h1>" +
            s"<p>$c1 $c1</p>" +
            s"<div>See also item $l</div>" +
            (if (docId % 3 != 0) s"<p>$c2 $c2 $c2</p>" else "") +
            "<div><a>p one</a> <a>p two</a> <a>p three</a> " +
            "<a>p four</a> <a>p five</a> <a>p six</a> " +
            "<a>p seven</a></div>" +
            s"<div>Copyright $l Inc</div></body></html>"
        })
        val docs = Tables.load(s, dir, "documents")
          .where(col("doc_id") % 9 === 4)
          .select(col("doc_id"), col("source"))
          .withColumn("html", mkHtml(col("doc_id")))
        MainContent.mainContent(docs, "doc_id", "html")
          .withColumn("n_blocks", expr(
            "size(filter(split(html, '\\n'), x -> x != ''))"))
          .withColumn("title", expr("split(html, '\\n')[0]"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_blocks")).as("n_kept"),
            sum(length(col("html"))).as("sum_len"),
            min(col("title")).as("min_title"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source,
            translate(doc_id::VARCHAR, '0123456789', 'abcdefghij')
              AS l,
            (doc_id % 3 != 0) AS two
          FROM documents WHERE doc_id % 9 = 4),
        c AS (SELECT *,
            'the story of the day is that the work of the team is' ||
              ' done & the result of it is good for all of us' AS r1,
            'a long account of the plan is set out in the notes' ||
              ' of the team for the record' AS r2
          FROM d),
        t AS (SELECT doc_id, source,
            'Title ' || l AS title,
            'Title ' || l || chr(10) || r1 || ' ' || r1 || chr(10) ||
              'See also item ' || l ||
              CASE WHEN two
                THEN chr(10) || r2 || ' ' || r2 || ' ' || r2
                ELSE '' END AS text,
            CASE WHEN two THEN 4 ELSE 3 END AS nb
          FROM c)
        SELECT source, count(*)::BIGINT AS n_docs,
          sum(nb)::BIGINT AS n_kept,
          sum(length(text))::BIGINT AS sum_len,
          min(title) AS min_title
        FROM t GROUP BY 1 ORDER BY 1"""),
      "jusText-shaped main-content extraction: link-density chrome " +
        "and link farms drop, stopword-dense prose keeps, short " +
        "titles/asides rescue via good neighbors, orphaned footers " +
        "next to bad blocks drop — the oracle rebuilds every doc's " +
        "extracted text verbatim from id arithmetic."),

    GraftQuery(
      "q_text_inflate", Seq("P6", "A8"),
      (s, dir) => {
        // DEFLATE through BOTH engines — the JDK and the
        // from-the-spec Inflate (RFC 1951/1952) — on the WARC
        // member layout: per doc one gzip member of arithmetic text
        // (repeat counts force real LZ77 back-references), even
        // docs a SECOND concatenated member, every 13th doc one
        // flipped byte inside the deflate data (both engines must
        // reject it — the member CRC32 pins that). n_agree pins the
        // engines to each other; sum_len/min_text pin them to the
        // oracle's replayed text — a Huffman-table, bit-order,
        // window, length/distance, or trailer-verification slip
        // fails the hash. Stateless per-row; one (source) rollup.
        import graft.operators.Inflate
        val mkGz = udf((docId: Long) => {
          def gz(t: String): Array[Byte] = {
            val bo = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bo)
            g.write(t.getBytes("UTF-8"))
            g.close()
            bo.toByteArray
          }
          val t1 = s"alpha $docId " * (docId % 5 + 1).toInt
          val out = gz(t1) ++
            (if (docId % 2 == 0) gz(s"beta $docId")
             else Array.empty[Byte])
          if (docId % 13 == 0)
            out(12) = (out(12) ^ 0x55).toByte
          out
        })
        val pure = udf((b: Array[Byte]) =>
          Inflate.gunzip(b).map(x => new String(x, "UTF-8"))
            .getOrElse(""))
        val jdk = udf((b: Array[Byte]) =>
          (try {
            val in = new java.util.zip.GZIPInputStream(
              new java.io.ByteArrayInputStream(b))
            val out = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](4096)
            var n = in.read(buf)
            while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
            Some(new String(out.toByteArray, "UTF-8"))
          } catch {
            case scala.util.control.NonFatal(_) => None
          }).getOrElse(""))
        Tables.load(s, dir, "documents")
          .where(col("doc_id") % 8 === 6)
          .select(col("doc_id"), col("source"))
          .withColumn("gz", mkGz(col("doc_id")))
          .withColumn("pure", pure(col("gz")))
          .withColumn("jdk", jdk(col("gz")))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("pure") === col("jdk"), 1L).otherwise(0L))
              .as("n_agree"),
            sum(when(length(col("pure")) > 0, 1L).otherwise(0L))
              .as("n_ok"),
            sum(length(col("pure"))).as("sum_len"),
            min(when(length(col("pure")) > 0, col("pure")))
              .as("min_text"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source,
            (doc_id % 13 = 0) AS corrupt
          FROM documents WHERE doc_id % 8 = 6),
        t AS (SELECT doc_id, source,
            CASE WHEN corrupt THEN '' ELSE
              repeat('alpha ' || doc_id::VARCHAR || ' ',
                (doc_id % 5 + 1)::INT) ||
              CASE WHEN doc_id % 2 = 0
                THEN 'beta ' || doc_id::VARCHAR ELSE '' END
            END AS text
          FROM d)
        SELECT source, count(*)::BIGINT AS n_docs,
          count(*)::BIGINT AS n_agree,
          sum(CASE WHEN length(text) > 0 THEN 1 ELSE 0 END)::BIGINT
            AS n_ok,
          sum(length(text))::BIGINT AS sum_len,
          min(CASE WHEN length(text) > 0 THEN text END) AS min_text
        FROM t GROUP BY 1 ORDER BY 1"""),
      "RFC 1951/1952 deflate through BOTH engines on the WARC gzip " +
        "member layout — concatenated members, real back-references, " +
        "a flipped byte the CRC32 trailer must catch — engine " +
        "agreement and the oracle's replayed text both pinned."),
  )
}
