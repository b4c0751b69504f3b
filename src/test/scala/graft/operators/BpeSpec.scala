package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** BPE training pinned against an independent in-memory reference
  * implementation of the Sennrich merge loop over the same vocabulary.
  */
class BpeSpec extends SparkSuite {
  import spark.implicits._

  /** Pure-Scala reference BPE: same argmax rule (count desc, pair
    * asc), same greedy left-to-right non-overlapping merge.
    */
  private def refBpe(
      vocab: Map[String, Long],
      n: Int): (Seq[(String, String, Long)], Map[String, Seq[String]]) = {
    var syms: Map[String, Seq[String]] = vocab.map { case (w, _) =>
      w -> (w.map(_.toString): Seq[String])
    }
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    for (_ <- 1 to n) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long]
      syms.foreach { case (w, ss) =>
        ss.sliding(2).filter(_.size == 2).foreach { p =>
          val k = (p(0), p(1))
          counts(k) = counts.getOrElse(k, 0L) + vocab(w)
        }
      }
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) =>
          (-c, l, r)
        }
        rules += ((l, r, c))
        syms = syms.map { case (w, ss) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          ss.foreach { s =>
            if (out.nonEmpty && out.last == l && s == r) {
              out.remove(out.size - 1); out += (l + r)
            } else out += s
          }
          w -> out.toSeq
        }
      }
    }
    (rules.toSeq, syms)
  }

  test("greedy merge is left-to-right non-overlapping") {
    val out = Seq(Tuple1(Seq("a", "a", "a")), Tuple1(Seq("a", "a", "a", "a")),
      Tuple1(Seq("b", "a", "a")))
      .toDF("syms")
      .select(Bpe.applyMerge("syms", "a", "a").as("m"))
      .as[Seq[String]].collect().toSeq
    assert(out === Seq(Seq("aa", "a"), Seq("aa", "aa"), Seq("b", "aa")))
  }

  test("train matches the reference merge loop over the real corpus " +
    "vocabulary; segment replays the learned rules") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val vocab = docs
      .select(explode(TextOps.tokens("text")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .as[(String, Long)].collect().toMap
    val (wantRules, wantSyms) = refBpe(vocab, n = 8)

    val (rules, trained) = Bpe.train(docs, n = 8)
    assert(rules.map(r => (r.left, r.right, r.count)) === wantRules)
    val gotSyms = trained.select("w", "syms")
      .as[(String, Seq[String])].collect().toMap
    assert(gotSyms === wantSyms)

    // inference path: segmenting the corpus with the learned rules
    // reproduces the training segmentation for every word
    val seg = Bpe.segment(docs, rules).select("w", "syms")
      .dropDuplicates("w")
      .as[(String, Seq[String])].collect().toMap
    assert(seg === wantSyms)
  }

  test("size-gated local training is bit-identical to the " +
    "distributed merge loop") {
    val docs = graft.Tables.load(spark, sf, "documents")
      .where(pmod(col("doc_id"), lit(7)) === 0)
    // spark.graft.localPaths=false forces the distributed path; the
    // default takes the driver-side loop — rules AND final segmentation
    // must agree exactly
    val (rulesDist, vocabDist) =
      withConf(LocalGate.key, "false")(Bpe.train(docs, n = 6))
    val (rulesLocal, vocabLocal) = Bpe.train(docs, n = 6)
    assert(rulesLocal === rulesDist)
    val d = vocabDist.select("w", "wc", "syms")
      .as[(String, Long, Seq[String])].collect().sortBy(_._1).toSeq
    val l = vocabLocal.select("w", "wc", "syms")
      .as[(String, Long, Seq[String])].collect().sortBy(_._1).toSeq
    assert(l === d)
  }

  test("local path splits by CODE POINTS like the distributed " +
    "charSyms — supplementary characters stay one symbol") {
    // an emoji (U+1F600, a surrogate pair in UTF-16) must be ONE
    // symbol on both paths; splitting code units would train
    // different merges
    val docs = Seq("a😀a a😀a bb bb bb")
      .toSeq.map(Tuple1(_)).toDF("text")
    val (rulesDist, vocabDist) =
      withConf(LocalGate.key, "false")(Bpe.train(docs, n = 3))
    val (rulesLocal, vocabLocal) = Bpe.train(docs, n = 3)
    assert(rulesLocal === rulesDist)
    val d = vocabDist.select("w", "syms")
      .as[(String, Seq[String])].collect().sortBy(_._1).toSeq
    val l = vocabLocal.select("w", "syms")
      .as[(String, Seq[String])].collect().sortBy(_._1).toSeq
    assert(l === d)
    // and the emoji word segments into 3 initial symbols, not 4
    val emojiSyms = l.find(_._1.contains("\uD83D")).get._2
    assert(emojiSyms.flatten.mkString.length === 4) // 2 a's + 2 units
  }

  test("argmax ties break in UTF-8 BYTE order on both paths — " +
    "supplementary vs private-use characters") {
    // U+1F600 (UTF-16 surrogate pair D83D DE00, UTF-8 F0 9F 98 80) vs
    // U+F8FF (UTF-16 single unit F8FF, UTF-8 EF A3 BF): UTF-16
    // code-unit order puts the emoji FIRST (D83D < F8FF) but Spark's
    // UTF8String binary order puts U+F8FF first (EF < F0). A count
    // tie between pairs led by these two must resolve identically on
    // the driver-side and distributed paths.
    val emoji = "\uD83D\uDE00" // U+1F600
    val pua = "\uF8FF"
    assert(Bpe.compareUtf8(emoji, pua) > 0)
    assert(emoji < pua) // the UTF-16 order DOES diverge
    val docs = Seq(Tuple1(s"${emoji}x ${pua}x")).toDF("text")
    val (rulesDist, _) =
      withConf(LocalGate.key, "false")(Bpe.train(docs, n = 1))
    val (rulesLocal, _) = Bpe.train(docs, n = 1)
    assert(rulesLocal === rulesDist)
    // and the winner is the UTF-8-least pair, led by U+F8FF
    assert(rulesLocal.head.left === pua)
  }

  test("tokenStats equals the reference count with char-level OOV " +
    "fallback when the tokenizer is trained on a sample") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val sample = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    val sampleVocab = sample
      .select(explode(TextOps.tokens("text")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .as[(String, Long)].collect().toMap
    val (_, refSyms) = refBpe(sampleVocab, n = 6)

    val (_, vocab) = Bpe.train(sample, n = 6)
    val got = Bpe.tokenStats(docs, vocab, Seq("lang"))
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._1).toSeq

    val rows = docs.select(col("lang"), col("text"))
      .as[(String, String)].collect()
    val want = rows.groupBy(_._1).map { case (lang, ds) =>
      val words = ds.toSeq.flatMap(_._2.split(" ").filter(_.nonEmpty))
      val oov = words.count(w => !refSyms.contains(w))
      val toks = words.map(w =>
        refSyms.get(w).map(_.size.toLong).getOrElse(w.length.toLong))
      (lang, ds.size.toLong, words.size.toLong, oov.toLong,
        toks.sum, words.map(_.length.toLong).sum)
    }.toSeq.sortBy(_._1)
    assert(got === want)
  }

  test("tokenStats falls back to char-level counts for OOV words and " +
    "keeps token-less documents in n_docs") {
    // vocab: 'ab' merged to one symbol; 'xyz' never seen → 3 chars
    val vocab = Seq(("ab", Seq("ab"))).toDF("w", "syms")
    val docs = Seq(
      (1L, "g", "ab ab xyz"),
      (2L, "g", ""), // token-less: counted in n_docs, nowhere else
      (3L, "h", "ab")).toDF("doc_id", "lang", "text")
    val got = Bpe.tokenStats(docs, vocab, Seq("lang"))
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._1).toSeq
    assert(got === Seq(
      ("g", 2L, 3L, 1L, 5L, 7L), // 2 docs, ab+ab+xyz, 1 OOV, 1+1+3 toks
      ("h", 1L, 1L, 0L, 1L, 2L)))
  }
}
