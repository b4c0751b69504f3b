package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE tokenizer training (Sennrich et al., ACL 2016) — the iterative
  * half of q_text_bpe_pairs' single merge-scoring round: learn `n`
  * merge rules by repeatedly (1) counting frequency-weighted adjacent
  * symbol pairs over the DISTINCT word table, (2) taking the global
  * argmax (count desc, pair asc — fully deterministic), (3) applying
  * the merge to every word's symbol sequence with the standard greedy
  * left-to-right non-overlapping scan.
  *
  * Scale shape: the word table has one row per VOCABULARY word (not
  * per token instance — the standard BPE trick), pair counting is one
  * map-side-combined aggregate per round, and the per-round driver
  * materialization is exactly ONE row (the winning pair) — the same
  * bounded-driver contract as the closure family's size gates. Each
  * round localCheckpoints the re-segmented vocabulary so the loop's
  * lineage stays flat. Merge application is an `aggregate` fold over
  * the symbol array: a merged symbol differs from its left part (the
  * right part is non-empty), so the fold cannot re-merge overlapping
  * occurrences — "aaa" under (a,a) yields [aa, a], matching the
  * reference algorithm.
  */
object Bpe {

  final case class MergeRule(left: String, right: String, count: Long)

  /** Split a word column (by name) into single-character symbols. */
  private def charSyms(w: String): Column =
    expr(s"transform(sequence(1, length($w)), i -> substring($w, i, 1))")

  private def sqlQuote(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Apply one merge rule to a symbol-array column (greedy
    * left-to-right, non-overlapping).
    */
  def applyMerge(syms: String, left: String, right: String): Column = {
    val l = sqlQuote(left)
    val r = sqlQuote(right)
    val m = sqlQuote(left + right)
    expr(
      s"""aggregate($syms, cast(array() as array<string>),
            (acc, s) -> if(size(acc) > 0
                AND element_at(acc, -1) = $l AND s = $r,
              concat(slice(acc, 1, size(acc) - 1), array($m)),
              concat(acc, array(s))))""")
  }

  /** Frequency-weighted adjacent-pair counts over (syms, wc) rows. */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .where(size(col("syms")) >= 2)
      .select(col("wc"), explode(expr(
        """transform(sequence(1, size(syms) - 1),
           i -> struct(element_at(syms, i) as l,
                       element_at(syms, i + 1) as r))""")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("wc").as("cnt"))

  /** Distinct words up to which [[train]] runs driver-side. */
  val LocalVocabLimit = 200_000L

  /** Learn `n` merge rules from a corpus of documents (`textCol`).
    * Returns the rules in learned order plus the final vocabulary
    * segmentation (word, wc, syms).
    *
    * SIZE-GATED HYBRID (the pruneNetwork discipline): training state
    * is VOCABULARY-sized — one row per distinct word — and the merge
    * loop pays `n` Spark-job round-trips of fixed overhead. Up to
    * `LocalVocabLimit` distinct words the (w, wc) table collects
    * once and the IDENTICAL deterministic loop (same argmax order,
    * same greedy merge) runs driver-side — ~70 ms × n of job overhead
    * becomes microseconds; past the gate the distributed loop runs
    * unchanged, so a web-scale vocabulary never collects, and
    * [[LocalGate]] (`spark.graft.localPaths=false`) forces it at any
    * size. Bit-parity of the two paths is spec-pinned (BpeSpec).
    */
  def train(
      docs: DataFrame, n: Int,
      textCol: String = "text"): (Seq[MergeRule], DataFrame) = {
    val spark = docs.sparkSession
    val base = docs
      .select(explode(TextOps.tokens(textCol)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    if (LocalGate.enabled(spark) && base.count() <= LocalVocabLimit) {
      import spark.implicits._
      val words = base.as[(String, Long)].collect()
      val (rules, syms) = trainLocal(words, n)
      val vocabOut = words.toSeq
        .map { case (w, wc) => (w, wc, syms(w).toSeq) }
        .toDF("w", "wc", "syms")
      return (rules, vocabOut)
    }
    var vocab = base
      .withColumn("syms", charSyms("w"))
      .localCheckpoint()
    val rules = scala.collection.mutable.ArrayBuffer.empty[MergeRule]
    var continue = true
    var i = 0
    while (i < n && continue) {
      // ONE driver row per round: the deterministic argmax pair
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) continue = false
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        rules += MergeRule(l, r, c)
        vocab = vocab
          .withColumn("syms", applyMerge("syms", l, r))
          .localCheckpoint()
      }
      i += 1
    }
    (rules.toSeq, vocab)
  }

  /** UTF-8 byte-lexicographic comparison — the SAME total order
    * Spark's `orderBy` applies to strings (UTF8String compares encoded
    * bytes unsigned). Scala's `String` ordering compares UTF-16 code
    * units, which DIVERGES for supplementary-plane characters vs
    * U+E000–U+FFFF (surrogates sort below private-use in UTF-16 but
    * 4-byte UTF-8 sorts above 3-byte), so the local twin must compare
    * encoded bytes to keep the bit-identical contract.
    */
  private[operators] def compareUtf8(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** True when `a` wins the argmax over `b`: count desc, then (l, r)
    * asc in UTF-8 byte order — exactly the distributed
    * `orderBy(cnt.desc, l.asc, r.asc)`.
    */
  private def argmaxBetter(
      a: ((String, String), Long), b: ((String, String), Long)): Boolean =
    if (a._2 != b._2) a._2 > b._2
    else {
      val cl = compareUtf8(a._1._1, b._1._1)
      if (cl != 0) cl < 0 else compareUtf8(a._1._2, b._1._2) < 0
    }

  /** The driver-side twin of the distributed merge loop: identical
    * argmax (count desc, then (l, r) asc in UTF-8 BYTE order — Spark's
    * UTF8String binary order, not Scala's UTF-16 code-unit order,
    * which diverges on supplementary-plane ties) and the identical
    * greedy left-to-right non-overlapping merge.
    */
  private def trainLocal(
      words: Array[(String, Long)],
      n: Int): (Seq[MergeRule], Map[String, IndexedSeq[String]]) = {
    var syms: Array[IndexedSeq[String]] =
      words.map { case (w, _) =>
        // split by CODE POINTS, not UTF-16 code units — the
        // distributed charSyms (substring(w, i, 1)) counts code
        // points, so a supplementary character must stay one symbol
        // on both paths
        val cps = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < w.length) {
          val cp = w.codePointAt(i)
          cps += new String(Character.toChars(cp))
          i += Character.charCount(cp)
        }
        cps.toIndexedSeq: IndexedSeq[String]
      }
    val rules = scala.collection.mutable.ArrayBuffer.empty[MergeRule]
    var round = 0
    var continue = true
    while (round < n && continue) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      var wi = 0
      while (wi < syms.length) {
        val ss = syms(wi)
        val wc = words(wi)._2
        var j = 0
        while (j < ss.length - 1) {
          val k = (ss(j), ss(j + 1))
          counts(k) = counts.getOrElse(k, 0L) + wc
          j += 1
        }
        wi += 1
      }
      if (counts.isEmpty) continue = false
      else {
        val ((l, r), c) = counts.reduce { (a, b) =>
          if (argmaxBetter(a, b)) a else b
        }
        rules += MergeRule(l, r, c)
        syms = syms.map { ss =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          ss.foreach { s =>
            if (out.nonEmpty && out.last == l && s == r) {
              out.remove(out.size - 1); out += (l + r)
            } else out += s
          }
          out.toIndexedSeq
        }
      }
      round += 1
    }
    (rules.toSeq,
      words.map(_._1).zip(syms.map(_.toIndexedSeq)).toMap)
  }

  /** Corpus token accounting under a trained segmentation — the
    * token-budget bookkeeping every training-data pipeline runs before
    * mixing sources ("how many tokens does this corpus contribute?").
    * Counts tokens per group (e.g. per language) WITHOUT re-running a
    * single merge over per-instance rows: `train`'s final vocabulary
    * already carries each DISTINCT word's symbol count, and that
    * word→n_tokens table broadcast-joins onto the exploded word stream.
    * One shuffle (the group aggregate); the merge loop never touches
    * the corpus, only the vocabulary.
    *
    * Out-of-vocabulary words (the tokenizer was trained on a SAMPLE, the
    * standard practice at corpus scale) fall back to character-level
    * segmentation — n_tokens = word length, the untrained-BPE identity —
    * so the count is total and deterministic for any vocabulary.
    *
    * Output: one row per group —
    * (groupCols..., n_docs, n_words, oov_words, n_tokens, n_word_chars).
    */
  def tokenStats(
      docs: DataFrame, vocab: DataFrame, groupCols: Seq[String],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(groupCols.nonEmpty, "tokenStats: no group columns")
    val perWord = broadcast(
      vocab.select(col("w"), size(col("syms")).as("__nt")))
    val counted = docs
      .select(groupCols.map(col) :+
        explode(TextOps.tokens(textCol)).as("w"): _*)
      .join(perWord, Seq("w"), "left")
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_words"),
        sum(when(col("__nt").isNull, 1L).otherwise(0L)).as("oov_words"),
        sum(coalesce(col("__nt").cast("long"), length(col("w"))
          .cast("long"))).as("n_tokens"),
        sum(length(col("w")).cast("long")).as("n_word_chars"))
    // the explode drops token-less documents; doc counts come from the
    // un-exploded side (both aggregates are group-sized smalls)
    val nDocs = docs.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
    nDocs.join(counted, groupCols, "left")
      .select(groupCols.map(col) :+ col("n_docs") :+
        coalesce(col("n_words"), lit(0L)).as("n_words") :+
        coalesce(col("oov_words"), lit(0L)).as("oov_words") :+
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens") :+
        coalesce(col("n_word_chars"), lit(0L)).as("n_word_chars"): _*)
  }

  /** Segment a text column with an already-learned rule list (applied
    * in learned order — the standard inference path). Returns the
    * symbol arrays, one row per token instance.
    */
  def segment(
      docs: DataFrame, rules: Seq[MergeRule],
      textCol: String = "text"): DataFrame = {
    val base = docs
      .select(explode(TextOps.tokens(textCol)).as("w"))
      .withColumn("syms", charSyms("w"))
    rules.foldLeft(base) { (df, rule) =>
      df.withColumn("syms", applyMerge("syms", rule.left, rule.right))
    }
  }
}
