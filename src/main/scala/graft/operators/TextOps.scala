package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{array_contains, array_join, coalesce,
  col, countDistinct, explode, expr, filter, length, lit, lower,
  posexplode, regexp_count, regexp_replace, row_number, size, split,
  struct, transform, trim, typedLit, when}

/** Text / dedup primitives for the training-data pipeline extensions
  * (SURVEY.md north-star: exact dedup, MinHash+LSH, SimHash, n-gram
  * Jaccard, quality scoring, language id, fingerprinting).
  *
  * Everything here is built from Spark SQL expressions only — no Scala
  * UDFs — so every op stays inside whole-stage codegen and (crucially for
  * the driver's DuckDB-oracle gate) has bit-identical SQL equivalents.
  *
  * The shared 60-bit hash is the low 15 hex digits of md5: stable across
  * engines (DuckDB: `('0x'||substr(md5(x),1,15))::BIGINT`), unlike
  * engine-native hash functions (xxhash64 vs DuckDB's hash), and it fits
  * a signed 64-bit int so min/compare semantics agree everywhere.
  *
  * Scale notes: minhash signatures are computed entirely inside one
  * projection (array higher-order functions — no explode, no shuffle);
  * the only shuffle in LSH dedup is the groupBy on band keys, which is
  * exactly the hash-partitioned bucket join that scales to 100 TB.
  * Reference analog: compound content-hash dedup, pickaxe.py:533-556.
  */
object TextOps {

  /** 60-bit deterministic hash of a string expression (md5-derived):
    * the fused [[graft.expressions.Hash64]] — bit-identical to
    * `cast(conv(substring(md5(x),1,15),16,10) as bigint)` (and to the
    * DuckDB oracles' `('0x'||substr(md5(x),1,15))::BIGINT`) without
    * the hex-string round trip, which matters inside interpreted HOF
    * lambdas. Sessions register the function via `Hash64.register`
    * (Tables.load and the DataFrame-bearing entry points call it).
    */
  def hash64(inner: String): String = s"graft_hash64($inner)"

  /** Whitespace tokens, empties dropped. */
  def tokens(textCol: String): Column =
    expr(s"filter(split($textCol, ' '), x -> x != '')")

  /** Word w-shingles from a token-array column (w >= 1). */
  def wordShingles(toksCol: String, w: Int): Column = {
    val parts = (0 until w)
      .map(j => s"element_at($toksCol, i + $j)").mkString(", ")
    expr(
      s"if(size($toksCol) >= $w, " +
        s"transform(sequence(1, size($toksCol) - ${w - 1}), " +
        s"i -> concat_ws(' ', $parts)), " +
        "cast(array() as array<string>))")
  }

  /** k-hash MinHash signature of a string-array column: each element is
    * md5-hashed ONCE, and the k per-seed hashes are affine integer mixes
    * of its low 31 bits — 1/k-th the md5 cost of hashing per seed, same
    * minhash statistics, still bit-identical in the DuckDB oracle
    * (pure integer arithmetic). One projection, no shuffle.
    */
  def minhashSignature(shinglesCol: String, k: Int): Column =
    expr(
      s"transform(sequence(0, ${k - 1}), s -> " +
        s"array_min(transform($shinglesCol, g -> " +
        s"(${hash64("g")} & 2147483647) * (2 * s + 1) + s * 2654435761)))")

  /** LSH band key for band `b` of a signature column with `r` rows per
    * band: md5 over the comma-joined slice.
    */
  def bandKey(sigCol: String, b: String, r: Int): String =
    s"md5(concat_ws(',', transform(slice($sigCol, $b * $r + 1, $r), " +
      "x -> cast(x as string))))"

  /** One row per (doc, LSH band key): tokenization, shingling, and the
    * k-hash minhash signature run in one projection, then the `bands`
    * band keys explode. Every step is a stateless projection.
    */
  def bandedDocs(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      w: Int = 3,
      k: Int = 9,
      bands: Int = 3): org.apache.spark.sql.DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    graft.expressions.Hash64.register(docs.sparkSession)
    require(!docs.columns.contains("band_key"),
      "bandedDocs: input already has a band_key column")
    val r = k / bands
    // collision-safe internal names: an input column named toks/sh/sig
    // must pass through untouched, not be clobbered and dropped
    val keys = (0 until bands)
      .map(b => expr(bandKey("__graft_sig", b.toString, r)))
    docs
      .withColumn("__graft_toks", tokens(textCol))
      .withColumn("__graft_sh", wordShingles("__graft_toks", w))
      // docs shorter than w words have NO shingles — an empty signature
      // would give every such doc the same md5('') band keys, flagging
      // any two short docs as near-dups of each other; they emit no
      // band rows instead (and so no near-dup verdicts)
      .where(expr("size(__graft_sh) > 0"))
      .withColumn("__graft_sig", minhashSignature("__graft_sh", k))
      .withColumn("band_key",
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.array(keys: _*)))
      .drop("__graft_toks", "__graft_sh", "__graft_sig")
  }

  /** `bits`-bit SimHash over a token-array column (weight = term
    * frequency): bit b is set iff sum over tokens of ±1 (sign of hash
    * bit b) is positive.
    */
  def simhash(toksCol: String, bits: Int): Column =
    expr(
      s"aggregate(sequence(0, ${bits - 1}), cast(0 as bigint), (acc, b) -> " +
        s"acc + if(aggregate($toksCol, cast(0 as bigint), (a, t) -> " +
        s"a + (shiftright(${hash64("t")}, b) & 1) * 2 - 1) > 0, " +
        "shiftleft(cast(1 as bigint), b), cast(0 as bigint)))")

  /** Rolling-hash document fingerprints: hash64 of each `w`-char window
    * sampled every `step` chars.
    */
  def charFingerprints(textCol: String, w: Int, step: Int): Column =
    // the fused kernel (expressions.CharFps): one tight
    // substring→md5-low-60 loop per row instead of an interpreted
    // transform lambda per position — bit-identical to
    //   transform(sequence(1, greatest(length(t)-w+1, 1), step),
    //             i -> graft_hash64(substring(t, i, w)))
    // which remains the DuckDB oracles' formulation
    expr(s"graft_char_fps($textCol, $w, $step)")

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    * SIGMOD 2003): hash EVERY k-char gram (one md5 per position), then
    * keep the minimum of each sliding window of `t - k + 1` hashes —
    * any two documents sharing a substring of length >= t are
    * GUARANTEED to share a fingerprint, while only ~2/(t-k+2) of
    * positions are kept. Plain window-min (not the paper's
    * rightmost-min tie rule) so the selection is a pure expression
    * both engines reproduce; duplicates collapse via array_distinct.
    * Texts shorter than t emit an empty array (no guarantee is
    * possible below the noise threshold).
    */
  def winnow(textCol: String, k: Int, t: Int): Column = {
    require(t >= k, s"guarantee threshold t=$t must be >= gram size k=$k")
    val win = t - k + 1
    val gh = s"if(length($textCol) >= $k, " +
      s"transform(sequence(1, length($textCol) - ${k - 1}), " +
      s"i -> ${hash64(s"substring($textCol, i, $k)")}), " +
      "cast(array() as array<bigint>))"
    // bind the gram-hash array ONCE via a single-element transform
    // (SQL has no `let`): the per-position md5 pass must not re-run
    // for the size guard and again per slice
    expr(
      s"element_at(transform(array($gh), gh -> " +
        s"if(size(gh) >= $win, " +
        s"array_distinct(transform(sequence(1, size(gh) - ${win - 1}), " +
        s"j -> array_min(slice(gh, j, $win)))), " +
        "cast(array() as array<bigint>))), 1)")
  }

  /** Compiled fast path for [[winnow]]: one md5 per char position and
    * the window minima in a tight loop — the expression form walks two
    * lambda interpreters per position (measured 7.5 s -> sub-second at
    * sf0.1, the same interpreted-HOF tax the simhash kernel paid).
    * Bit-identical to the expression (same 60-bit md5-derived hash,
    * same window-min selection, same first-occurrence dedup order,
    * empty array below the t threshold and for null text — the
    * expression's if(null-condition) also lands in the else branch),
    * so DuckDB oracles mirroring the expression are unchanged.
    */
  def winnowCompiled(k: Int, t: Int): Column => Column = {
    require(t >= k, s"guarantee threshold t=$t must be >= gram size k=$k")
    // the fused kernel (expressions.WinnowFps) replaced the compiled
    // Scala UDF here: same tight loop, but evaluated on UTF8String /
    // primitive ArrayData in place — the UDF paid a string copy and
    // an array conversion per row. Null text: SQL NULL (the UDF
    // returned empty; every consumer treats the two alike — explode
    // drops the row, size(null) > 0 is not true). call_function keeps
    // the UDF contract: ANY Column expression works, not just columns
    // whose name happens to round-trip through SQL text.
    c => org.apache.spark.sql.functions.call_function(
      "graft_winnow", c, lit(k), lit(t))
  }

  /** Positional winnowing — [[winnow]]'s selection with each kept
    * fingerprint's 1-based char position instead of its hash: window j
    * keeps the position of its LEFTMOST minimal gram hash (ties to the
    * first occurrence, matching the compiled kernel's strict `<`),
    * deduped across windows. The span-level decontamination query maps
    * matched fingerprints back to the char intervals they cover
    * ([pos, pos + k - 1]) — the Lee-et-al-style exact-substring
    * REMOVAL step needs locations, not just overlap ratios.
    */
  def winnowPositions(textCol: String, k: Int, t: Int): Column = {
    require(t >= k, s"guarantee threshold t=$t must be >= gram size k=$k")
    val win = t - k + 1
    val gh = s"if(length($textCol) >= $k, " +
      s"transform(sequence(1, length($textCol) - ${k - 1}), " +
      s"i -> ${hash64(s"substring($textCol, i, $k)")}), " +
      "cast(array() as array<bigint>))"
    expr(
      s"element_at(transform(array($gh), gh -> " +
        s"if(size(gh) >= $win, " +
        s"array_distinct(transform(sequence(1, size(gh) - ${win - 1}), " +
        s"j -> cast(j - 1 + array_position(slice(gh, j, $win), " +
        s"array_min(slice(gh, j, $win))) as int))), " +
        "cast(array() as array<int>))), 1)")
  }

  /** Compiled fast path for [[winnowPositions]], returning (pos, fp)
    * pairs — the fingerprint VALUE rides along so the consumer can
    * equi-join an eval fingerprint set without recomputing the gram
    * hashes. Selection order, leftmost-min tie rule, and dedup match
    * the expression twin (parity spec in OperatorsSpec).
    */
  def winnowPositionsCompiled(k: Int, t: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(t >= k, s"guarantee threshold t=$t must be >= gram size k=$k")
    org.apache.spark.sql.functions.udf { text: String =>
      if (text == null || text.length < t) Array.empty[(Int, Long)]
      else {
        val n = text.length - k + 1
        val hs = new Array[Long](n)
        var i = 0
        while (i < n) {
          hs(i) = VectorOps.hash64Scala(text.substring(i, i + k))
          i += 1
        }
        val win = t - k + 1
        val seen = new java.util.LinkedHashSet[Int]
        var j = 0
        while (j + win <= n) {
          var m = hs(j)
          var arg = j
          var x = j + 1
          while (x < j + win) {
            if (hs(x) < m) { m = hs(x); arg = x }
            x += 1
          }
          seen.add(arg)
          j += 1
        }
        val out = new Array[(Int, Long)](seen.size)
        val it = seen.iterator()
        var o = 0
        while (it.hasNext) {
          val p = it.next()
          out(o) = (p + 1, hs(p)) // 1-based, matching SQL substring
          o += 1
        }
        out
      }
    }
  }

  /** Compiled top-token count: one hash-map pass per doc instead of
    * the expression form's O(distinct × n) nested interpreted lambdas
    * (`array_max(transform(array_distinct(t), x -> size(filter(t,
    * y -> y = x))))`) — the quadratic blow-up lands exactly on long
    * repetitive docs, the documents a repetition filter exists to
    * catch. Same value (max term frequency), null in -> null out.
    */
  def topTokenCountCompiled(): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { toks: Seq[String] =>
      if (toks == null) null.asInstanceOf[java.lang.Long]
      else {
        val counts = new java.util.HashMap[String, Long]
        var best = 0L
        toks.foreach { t =>
          val c = counts.merge(t, 1L, _ + _)
          if (c > best) best = c
        }
        java.lang.Long.valueOf(best)
      }
    }

  /** The quality blend q_text_quantile ranks by — 0.4·length-saturation
    * + 0.4·type-token-ratio + 0.2·(1 − stopword share) — as ONE
    * expression over the raw text column, so the batch decile query
    * and the DuckDB oracle share a single definition. Zero-token docs
    * score null (they have no rank; DuckDB would NaN on the divide and
    * sort to the opposite window end).
    */
  def qualityScore(textCol: String): Column =
    expr(
      s"element_at(transform(array(filter(split($textCol, ' '), " +
        "x -> x != '')), t -> " +
        "if(size(t) = 0, cast(null as double), " +
        "0.4 * least(size(t) / 80.0, 1.0) " +
        "+ 0.4 * (size(array_distinct(t)) / size(t)) " +
        "+ 0.2 * (1.0 - size(filter(t, x -> " +
        "array_contains(array('the', 'a'), x))) / size(t)))), 1)")

  /** Cut the k-gram spans starting at the (1-based, ascending) match
    * positions in `psCol` out of `textCol` — the exact-substring
    * REMOVAL step of Lee et al.'s dedup loop, used by the
    * q_text_clean query. One left fold over the doc's own
    * sorted positions (state = (emitted-so-far, next-uncovered-char)):
    * emit text[cur, p-1] when a match starts past cur, advance cur to
    * max(cur, p + k) — overlapping/adjacent spans merge for free, and
    * the doc body is scanned once. Null or empty `psCol` passes the
    * text through verbatim. Lambda variables are `__graft_`-prefixed
    * and interpolated names backticked, so no user column can shadow
    * them.
    */
  def removeSpans(textCol: String, psCol: String, k: Int): Column =
    expr(
      s"if(`$psCol` is null or size(`$psCol`) = 0, `$textCol`, " +
        s"aggregate(`$psCol`, " +
        "struct(cast('' as string) as out, 1 as cur), " +
        "(__graft_acc, __graft_p) -> struct(" +
        "if(__graft_p > __graft_acc.cur, concat(__graft_acc.out, " +
        s"substr(`$textCol`, __graft_acc.cur, " +
        "__graft_p - __graft_acc.cur)), __graft_acc.out) as out, " +
        s"greatest(__graft_acc.cur, __graft_p + $k) as cur), " +
        "__graft_acc -> concat(__graft_acc.out, " +
        s"substr(`$textCol`, __graft_acc.cur, " +
        s"length(`$textCol`) - __graft_acc.cur + 1))))")

  /** PII patterns for corpus scrubbing, kept to the syntax subset that
    * Java regex (Spark) and RE2 (the DuckDB oracle) interpret
    * identically: character classes, bounded repetition, and ASCII \b.
    * No lookaround, no backreferences — RE2 has neither.
    */
  val emailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe: String = "\\+\\d{1,3}[ -]?\\d{2,4}[ -]?\\d{3}[ -]?\\d{3,4}"

  /** PII-scrub a text column: emails, then phone numbers, then bare
    * IPv4s are replaced with typed tags. Email first so its local part
    * cannot be re-matched as something else; phone before IPv4 only by
    * convention (a +-prefixed number and a dotted quad cannot overlap).
    * Plain chained regexp_replace — codegen'd, and the DuckDB twin is
    * the same three patterns with the 'g' flag.
    */
  def scrubPii(textCol: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(textCol, emailRe, "[EMAIL]"),
        phoneRe, "[PHONE]"),
      ipv4Re, "[IP]")

  /** Mask blocklisted TOKENS in a token-array column (Dolma-style term
    * scrubbing): whole-token match only — a blocklisted term embedded in
    * a longer token is untouched, which is what token-boundary masking
    * means (and what a regex over the raw string would get wrong at
    * punctuation). Column-API transform with the terms as a typedLit
    * array literal, so arbitrary caller strings (quotes, backslashes,
    * anything) are data, never SQL text; blocklists are small —
    * broadcast-sized by nature.
    */
  def maskTokens(toks: Column, terms: Seq[String], tag: String): Column = {
    require(terms.nonEmpty, "blocklist must be non-empty")
    val arr = typedLit(terms)
    transform(toks, x =>
      when(array_contains(arr, x), lit(tag)).otherwise(x))
  }

  /** PII hit count matched to [[scrubPii]]'s SEQUENTIAL replacement:
    * each pattern is counted over the text as it stands when scrubPii
    * applies that pattern (emails on the raw text, phones on the
    * email-scrubbed text, IPv4s on the phone-scrubbed text), so the
    * count equals the number of spans actually replaced. Counting all
    * three patterns on the raw text would double-count overlapping
    * spans — an email whose host part is a dotted quad scrubs to ONE
    * [EMAIL] tag but would report two hits.
    */
  def piiCount(textCol: Column): Column = {
    val afterEmail = regexp_replace(textCol, emailRe, "[EMAIL]")
    val afterPhone = regexp_replace(afterEmail, phoneRe, "[PHONE]")
    (regexp_count(textCol, lit(emailRe)) +
      regexp_count(afterEmail, lit(phoneRe)) +
      regexp_count(afterPhone, lit(ipv4Re))).cast("long")
  }

  /** The per-doc scrub projection — ONE definition shared by
    * q_text_scrub and the corpus pipeline's scrub stage. Returns a struct
    * of (n_pii, n_masked, scrubbed): sequential PII hit count
    * ([[piiCount]]), blocklisted-token count, and the scrubbed text
    * re-joined on single spaces after [[scrubPii]] + [[maskTokens]].
    */
  def scrubProjection(
      textCol: Column, terms: Seq[String], tag: String): Column = {
    val toks = filter(split(scrubPii(textCol), " "), x => x =!= lit(""))
    struct(
      piiCount(textCol).as("n_pii"),
      size(filter(toks, x => array_contains(typedLit(terms), x)))
        .cast("long").as("n_masked"),
      array_join(maskTokens(toks, terms, tag), " ").as("scrubbed"))
  }

  /** Unicode + whitespace canonicalization stage — runs BEFORE any
    * byte-keyed operator (exact dedup, shingles, winnowing, token
    * counts key on bytes; "é" composed vs decomposed must not split a
    * logical document). Chain: NFC composition (the codegen'd
    * [[graft.expressions.NfcNormalize]] — ASCII fast path returns the
    * input buffer untouched) → control-char strip (C0 minus \t\n\r,
    * plus DEL — the same RE2-common-subset class on both engines) →
    * space/tab-run collapse → trim. Counters are exact character
    * deltas so the oracle reproduces them bit for bit; `normalized`
    * carries the canonical bytes (fingerprint-pinned cross-engine).
    */
  def normalizeProjection(textCol: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val nfc = ColumnBridge.column(graft.expressions.NfcNormalize(
      ColumnBridge.expression(textCol)))
    val noCtrl = regexp_replace(nfc,
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val collapsed = regexp_replace(noCtrl, "[ \\t]+", " ")
    struct(
      (nfc =!= textCol).cast("long").as("nfc_changed"),
      (length(nfc) - length(noCtrl)).cast("long").as("ctrl_removed"),
      (length(noCtrl) - length(collapsed)).cast("long")
        .as("ws_collapsed"),
      trim(collapsed).as("normalized"))
  }

  /** Exact Jaccard between two array columns (set semantics). */
  def jaccard(a: String, b: String): Column =
    expr(s"size(array_intersect($a, $b)) / " +
      s"(size($a) + size($b) - size(array_intersect($a, $b)))")

  /** Compiled fast path for the simhash kernel: each token is md5-hashed
    * ONCE and its low `bits` sign contributions accumulate in a tight
    * loop — the expression form re-hashes every token PER BIT (32 md5
    * calls per token at 32 bits; measured 11.5 s -> sub-second at
    * sf0.1). Bit-identical to [[simhash]] (same 60-bit md5-derived
    * hash, same tf-weighted sign rule), so DuckDB oracles that mirror
    * the expression are unchanged.
    */
  def simhashCompiled(bits: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { toks: Seq[String] =>
      // null in -> null out, matching the expression twin simhash()
      if (toks == null) null.asInstanceOf[java.lang.Long]
      else {
        val counts = new Array[Long](bits)
        toks.foreach { t =>
          val h = VectorOps.hash64Scala(t)
          var b = 0
          while (b < bits) {
            counts(b) += ((h >>> b) & 1L) * 2 - 1
            b += 1
          }
        }
        var sim = 0L
        var b = 0
        while (b < bits) {
          if (counts(b) > 0) sim |= 1L << b
          b += 1
        }
        java.lang.Long.valueOf(sim)
      }
    }

  /** Compiled fast path for text -> (distinct word w-shingles, k-hash
    * minhash signature): one UDF call instead of ~k x |shingles|
    * interpreted-HOF lambda evaluations per row. Bit-identical to the
    * expression path (same md5-low-60-bit hash + affine per-seed mix),
    * so the DuckDB oracle is unchanged.
    */
  def shinglesAndSignature(w: Int, k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { text: String =>
      // null in -> null out, matching the expression path (tokens()
      // of a null text column is null)
      if (text == null) null
      else {
        val toks = text.split(' ').filter(_.nonEmpty)
        val sh: Array[String] =
          if (toks.length < w) Array.empty
          else Array.tabulate(toks.length - w + 1)(i =>
            toks.slice(i, i + w).mkString(" ")).distinct
        val hs = sh.map(g => VectorOps.hash64Scala(g) & 2147483647L)
        val sig = Array.tabulate(k) { s =>
          var min = Long.MaxValue
          for (h <- hs) {
            val v = h * (2 * s + 1) + s * 2654435761L
            if (v < min) min = v
          }
          min
        }
        (sh, sig)
      }
    }

  /** Gopher-rule verdict bits over a TOKEN-ARRAY column — the rule
    * projection of q_text_gopher. Every bound is
    * cross-multiplied to integer comparisons (Rae et al. 2021 §A1.1):
    *   p_wc:    50 <= word count <= 100000
    *   p_mwl:   3 <= mean word length <= 10  (sumlen vs 3n / 10n)
    *   p_alpha: >= 80% of words contain a letter (5·n_alpha >= 4·n)
    *   p_stop:  >= 2 distinct corpus function words ('the','a')
    * Returns a struct of four BIGINT bits (1 = rule passed).
    */
  def gopherBits(toksCol: String): Column = expr(s"""named_struct(
    'p_wc', cast(size($toksCol) >= 50 and size($toksCol) <= 100000
      as bigint),
    'p_mwl', cast(
      aggregate($toksCol, 0L, (acc, w) -> acc + length(w))
        >= 3 * size($toksCol)
      and aggregate($toksCol, 0L, (acc, w) -> acc + length(w))
        <= 10 * size($toksCol) as bigint),
    'p_alpha', cast(5 * size(filter($toksCol, w -> w rlike '[a-zA-Z]'))
      >= 4 * size($toksCol) as bigint),
    'p_stop', cast(size(array_intersect(array_distinct($toksCol),
      array('the','a'))) >= 2 as bigint))""")

  /** Parse SubRip (.srt) / WebVTT (.vtt) subtitle text into cue rows
    * (ordinal, start_ms, end_ms, text) — the sidecar-subtitle twin of
    * [[graft.operators.Multimodal.mp4Cues]]' in-container bridge, and
    * a first-class text SOURCE for a corpus build (subtitles are a
    * major share of real transcript data). Grammar: blank-line-
    * separated blocks; an optional id line, then a
    * `HH:MM:SS,mmm --> HH:MM:SS,mmm` timing line (SRT comma or VTT
    * dot decimals; VTT's short `MM:SS.mmm` form without hours too;
    * trailing VTT cue settings tolerated), then the cue
    * text lines joined by newline. A leading `WEBVTT` header block
    * and NOTE/STYLE blocks carry no timing line and are skipped, as
    * are malformed blocks (no timing within the first two lines,
    * end < start, empty text) — never thrown on. The ordinal counts
    * EMITTED cues (declared SRT indices are unreliable in the wild).
    */
  def subtitleCues(text: String): Seq[(Int, Long, Long, String)] = {
    if (text == null) return Seq.empty
    // WebVTT's common short form omits the hours ("MM:SS.mmm") —
    // the leading group is optional, defaulting to 0
    val Timing = ("""(?:(\d{1,2}):)?(\d{2}):(\d{2})[.,](\d{3})\s*-->\s*""" +
      """(?:(\d{1,2}):)?(\d{2}):(\d{2})[.,](\d{3}).*""").r
    def ms(h: String, m: String, s: String, mil: String): Long =
      (if (h == null) 0L else h.toLong * 3600000) +
        m.toLong * 60000 + s.toLong * 1000 + mil.toLong
    val out = new scala.collection.mutable.ArrayBuffer[
      (Int, Long, Long, String)]()
    text.split("\r?\n\r?\n+").foreach { blk =>
      val lines = blk.split("\r?\n").dropWhile(_.trim.isEmpty)
      val tIdx = lines.indexWhere(_.contains("-->"))
      if (tIdx >= 0 && tIdx <= 1) lines(tIdx).trim match {
        case Timing(h1, m1, s1, ms1, h2, m2, s2, ms2) =>
          val start = ms(h1, m1, s1, ms1)
          val end = ms(h2, m2, s2, ms2)
          val body = lines.drop(tIdx + 1).mkString("\n")
          if (end >= start && body.nonEmpty)
            out += ((out.length, start, end, body))
        case _ => () // malformed timing: skip the block
      }
    }
    out.toSeq
  }

  /** Tags whose open OR close marks a line boundary in [[htmlText]]
    * output — the block-level set C4/CCNet's line-based rules need
    * (boilerplate lines, terminal punctuation per line, line dedup
    * all assume one visual block per line).
    */
  private val BlockTags: Set[String] = Set(
    "p", "br", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "tr",
    "td", "th", "blockquote", "section", "article", "ul", "ol", "dl",
    "dt", "dd", "table", "thead", "tbody", "tfoot", "header", "footer",
    "nav", "aside", "main", "form", "fieldset", "hr", "pre", "figure",
    "figcaption", "address", "title", "caption", "option", "body",
    "html", "head")

  /** The shared block-boundary test ([[MainContent.htmlBlocks]]'s
    * scanner must split exactly where this one does).
    */
  private[operators] def isBlockTag(name: String): Boolean =
    BlockTags(name)

  /** Extract the visible text of an HTML page — the C4/CCNet-style
    * html -> text step a Common Crawl corpus build runs right after
    * [[graft.operators.Warc.warcDocuments]]: `<script>`/`<style>`
    * elements removed WHOLESALE (their content is code, not text),
    * `<!-- -->` comments dropped, BLOCK-LEVEL tags ([[BlockTags]])
    * replaced by a newline — so the output is LINE-STRUCTURED, one
    * visual block per line, the shape [[removeBoilerplate]] and
    * C4's line-based quality rules require — every other tag
    * replaced by a space (so adjacent inline elements never fuse
    * words), the standard named entities (&amp; &lt; &gt; &quot;
    * &apos; &nbsp;) and numeric &#N; / &#xH; references decoded,
    * whitespace collapsed WITHIN lines, lines trimmed, empty lines
    * dropped. Single-pass scanner, regex-free, case-insensitive tag
    * names; unknown entities pass through literally (never mangled);
    * never throws.
    */
  def htmlText(html: String): String = {
    if (html == null) return ""
    val n = html.length
    val sb = new java.lang.StringBuilder(n)
    def lowerAt(i: Int, s: String): Boolean =
      i + s.length <= n &&
        html.regionMatches(true, i, s, 0, s.length)
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (lowerAt(i, "<!--")) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
          sb.append(' ') // a comment separates words, not blocks
        } else if (lowerAt(i, "<script")) {
          var end = i + 7
          while (end < n && !lowerAt(end, "</script")) end += 1
          val gt = html.indexOf('>', end)
          i = if (end >= n || gt < 0) n else gt + 1
          sb.append('\n') // script/style elements are blocks
        } else if (lowerAt(i, "<style")) {
          var end = i + 6
          while (end < n && !lowerAt(end, "</style")) end += 1
          val gt = html.indexOf('>', end)
          i = if (end >= n || gt < 0) n else gt + 1
          sb.append('\n')
        } else {
          // the tag name decides the replacement: block-level tags
          // become line boundaries, inline tags a word-separating
          val gt = html.indexOf('>', i + 1)
          var ni = i + 1
          if (ni < n && html.charAt(ni) == '/') ni += 1
          val ns = ni
          while (ni < n && (html.charAt(ni).isLetterOrDigit))
            ni += 1
          val name = html.substring(ns, ni).toLowerCase
          i = if (gt < 0) n else gt + 1
          sb.append(if (BlockTags(name)) '\n' else ' ')
        }
      } else if (c == '&') {
        val semi = html.indexOf(';', i + 1)
        val entity =
          if (semi > i && semi - i <= 10) html.substring(i + 1, semi)
          else null
        val decoded: String = entity match {
          case null => null
          case "amp" => "&"
          case "lt" => "<"
          case "gt" => ">"
          case "quot" => "\""
          case "apos" => "'"
          case "nbsp" => " "
          case e if e.startsWith("#x") || e.startsWith("#X") =>
            try {
              val cp = Integer.parseInt(e.substring(2), 16)
              if (Character.isValidCodePoint(cp))
                new String(Character.toChars(cp))
              else null
            } catch { case _: Exception => null }
          case e if e.startsWith("#") =>
            try {
              val cp = Integer.parseInt(e.substring(1))
              if (Character.isValidCodePoint(cp))
                new String(Character.toChars(cp))
              else null
            } catch { case _: Exception => null }
          case _ => null
        }
        if (decoded != null) { sb.append(decoded); i = semi + 1 }
        else { sb.append('&'); i += 1 } // unknown entity: literal
      } else {
        sb.append(c)
        i += 1
      }
    }
    // collapse whitespace WITHIN lines (incl. the tag-replacement
    // spaces), trim lines, drop empty lines: a newline outranks any
    // pending spaces, runs of newlines collapse to one
    val out = new java.lang.StringBuilder(sb.length)
    var k = 0
    var pendingSpace = false
    var pendingNewline = false
    while (k < sb.length) {
      val c = sb.charAt(k)
      if (c == '\n') pendingNewline = true
      else if (Character.isWhitespace(c)) pendingSpace = true
      else {
        if (pendingNewline && out.length > 0) out.append('\n')
        else if (pendingSpace && out.length > 0 &&
          out.charAt(out.length - 1) != '\n') out.append(' ')
        pendingNewline = false
        pendingSpace = false
        out.append(c)
      }
      k += 1
    }
    out.toString
  }

  /** Per-host BOILERPLATE removal — the CCNet-style step after
    * [[htmlText]]: lines (nav bars, cookie banners, footers) that
    * appear in at least `minFrac` of a host's documents are dropped
    * from every document of that host; hosts with fewer than
    * `minHostDocs` documents are left untouched (no frequency
    * evidence). Line identity is exact text; document order of the
    * kept lines is preserved; a document whose every line is
    * boilerplate comes back as "". Pure DataFrame algebra — one
    * explode, two keyed aggregations, an anti-join, a reassembly
    * aggregation — so at 100 TB everything shuffles on (host, line)
    * / (host, id) keys and nothing is driver-side.
    */
  /** The normalization key under which two paragraphs count as
    * duplicates — the CCNet-style AGGRESSIVE dedup key (case,
    * digits, punctuation, and spacing runs do not distinguish
    * paragraphs; only the letter sequence does). One definition so
    * batch dedup, its oracle, and any persisted paragraph index
    * cannot drift. Reference analog: none — this is the published
    * CCNet pipeline's paragraph-hash normalization re-expressed as
    * a codegen'd column (CCNet paper §3.1, "deduplication").
    */
  def paragraphKey(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^a-z ]", ""), " +", " "))

  /** CCNet-style PARAGRAPH-LEVEL dedup — the published pipeline's
    * actual dedup unit (whole-document dedup misses the boilerplate-
    * like paragraphs that survive per-host line removal because they
    * recur ACROSS hosts). Every paragraph (one per line of the
    * line-structured [[htmlText]] output) is keyed by
    * [[paragraphKey]]; only the corpus-wide FIRST occurrence —
    * smallest (`idCol`, position), the deterministic distributed
    * analog of CCNet's first-seen-hash rule — survives; every
    * later copy is dropped from its document, and the kept
    * paragraphs are reassembled in document order (a document whose
    * every paragraph is a repeat comes back as ""). Pure DataFrame
    * algebra — one explode, a row_number window over the paragraph
    * key, a reassembly aggregation — so at 100 TB everything
    * shuffles on hash-distributed paragraph-key / id partitions and
    * nothing is driver-side.
    */
  def dedupParagraphs(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val paras = df.select(col(idCol),
        posexplode(split(col(textCol), "\n"))
          .as(Seq("__idx", "__para")))
      .withColumn("__key", paragraphKey(col("__para")))
    val kept = paras
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__key"))
          .orderBy(col(idCol), col("__idx"))))
      .where(col("__rk") === 1)
    val rebuilt = kept.groupBy(idCol)
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(__idx, __para)))," +
          " x -> x.__para)"), "\n").as("__cleaned"))
    df.drop(textCol)
      .join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__cleaned"), lit("")))
      .drop("__cleaned")
  }

  def removeBoilerplate(
      df: DataFrame, hostCol: String, idCol: String, textCol: String,
      minFrac: Double = 0.6, minHostDocs: Int = 3): DataFrame = {
    val lines = df.select(col(hostCol), col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__idx", "__line")))
    val boiler = boilerplateLines(
        df, hostCol, idCol, textCol, minFrac, minHostDocs)
      .withColumnRenamed("line", "__line")
    val cleaned = lines
      .join(boiler, Seq(hostCol, "__line"), "left_anti")
      .groupBy(hostCol, idCol)
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(__idx, __line)))," +
          " x -> x.__line)"), "\n").as("__cleaned"))
    df.drop(textCol)
      .join(cleaned, Seq(hostCol, idCol), "left")
      .withColumn(textCol, coalesce(col("__cleaned"), lit("")))
      .drop("__cleaned")
  }

  /** The (host, line) BOILERPLATE table behind [[removeBoilerplate]].
    * A line qualifies
    * when it appears in >= `minFrac` of a host's >= `minHostDocs`
    * documents. Columns: (hostCol, line). Returned UNPERSISTED —
    * the caller owns the caching contract; at scale this is the
    * artifact a pipeline persists next to its corpus, hash-
    * partitioned by the (host, line) join key.
    */
  def boilerplateLines(
      df: DataFrame, hostCol: String, idCol: String, textCol: String,
      minFrac: Double = 0.6, minHostDocs: Int = 3): DataFrame = {
    require(minFrac > 0 && minFrac <= 1, s"minFrac: $minFrac")
    require(minHostDocs >= 1, s"minHostDocs: $minHostDocs")
    val lines = df.select(col(hostCol), col(idCol),
      explode(split(col(textCol), "\n")).as("line"))
    val hostDocs = df.groupBy(hostCol)
      .agg(countDistinct(col(idCol)).as("__n_docs"))
    lines.groupBy(hostCol, "line")
      .agg(countDistinct(col(idCol)).as("__df"))
      .join(hostDocs, Seq(hostCol))
      .where(col("__n_docs") >= minHostDocs &&
        col("__df") >= col("__n_docs") * minFrac)
      .select(col(hostCol), col("line"))
  }

  /** Tracking-parameter keys [[normalizeUrl]] strips (plus any
    * `utm_*`-prefixed key) — the standard crawl-dedup set.
    */
  val TrackingParams: Set[String] = Set("fbclid", "gclid", "msclkid",
    "ref", "igshid", "mc_cid", "mc_eid")

  /** Canonicalize a URL for crawl-level dedup — the step before
    * fetch/content dedup in a web corpus build: scheme and host
    * lowercased, a default port for the scheme dropped (http:80 /
    * https:443), the fragment removed, tracking query parameters
    * stripped (`utm_*` + [[TrackingParams]]), the surviving
    * parameters sorted, and an empty path normalized to "/". The
    * PATH's case and encoding are preserved (paths are case-
    * sensitive by spec; www-stripping is a site-specific policy this
    * function deliberately does not guess). Non-absolute inputs come
    * back trimmed but otherwise unchanged; never throws.
    */
  def normalizeUrl(url: String): String = {
    if (url == null) return ""
    val trimmed = url.trim
    val si = trimmed.indexOf("://")
    if (si <= 0) return trimmed
    val scheme = trimmed.substring(0, si).toLowerCase
    var rest = trimmed.substring(si + 3)
    val hi = rest.indexOf('#')
    if (hi >= 0) rest = rest.substring(0, hi)
    val qi = rest.indexOf('?')
    val (hp, query) =
      if (qi >= 0) (rest.substring(0, qi), rest.substring(qi + 1))
      else (rest, "")
    val pi = hp.indexOf('/')
    val (auth, path) =
      if (pi >= 0) (hp.substring(0, pi), hp.substring(pi))
      else (hp, "")
    val ci = auth.lastIndexOf(':')
    val (host, port) =
      if (ci >= 0 && ci + 1 < auth.length &&
        auth.substring(ci + 1).forall(_.isDigit))
        (auth.substring(0, ci), auth.substring(ci + 1))
      else (auth, "")
    val keepPort = port.nonEmpty &&
      !((scheme == "http" && port == "80") ||
        (scheme == "https" && port == "443"))
    val hostPart = host.toLowerCase +
      (if (keepPort) ":" + port else "")
    val normPath = if (path.isEmpty) "/" else path
    val params = query.split("&").toSeq.filter(_.nonEmpty).filter { p =>
      val k = p.takeWhile(_ != '=').toLowerCase
      !k.startsWith("utm_") && !TrackingParams(k)
    }.sorted
    scheme + "://" + hostPart + normPath +
      (if (params.nonEmpty) params.mkString("?", "&", "") else "")
  }

  /** DSIR-style hashed-unigram importance model (Xie et al., NeurIPS
    * 2023): a COMPLETE `buckets`-row table (b, s4) where s4 is the
    * exact 1e4-scaled integer log-ratio ln p_target(b) - ln p_raw(b)
    * with add-one smoothing — the model of q_text_dsir. Target token
    * mass comes from `isTarget` rows; raw mass from the whole corpus.
    * Every bucket 0..buckets-1 gets a row — buckets unseen in the
    * corpus carry the smoothed empty-count ratio — so a join on the
    * bucket can never silently drop a novel token's bucket. The model
    * is FIXED-size (never grows with the corpus) and broadcast-sized
    * by construction.
    */
  def dsirModel(
      corpus: org.apache.spark.sql.DataFrame,
      isTarget: Column,
      textCol: String = "text",
      buckets: Int = 64): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col,
      count, explode, sum}
    val spark = corpus.sparkSession
    graft.expressions.Hash64.register(spark)
    val tok = corpus
      .select(isTarget.as("__graft_tgt"),
        explode(tokens(textCol)).as("__graft_tok"))
      .withColumn("b", expr(s"${hash64("__graft_tok")} % $buckets"))
    val raw = tok.groupBy("b").agg(count(lit(1)).as("cr"))
    val tgt = tok.where(col("__graft_tgt"))
      .groupBy("b").agg(count(lit(1)).as("ct"))
    spark.range(buckets).toDF("b")
      .join(raw, Seq("b"), "left")
      .join(tgt, Seq("b"), "left")
      .withColumn("cr", coalesce(col("cr"), lit(0L)))
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .crossJoin(broadcast(raw.agg(coalesce(sum("cr"), lit(0L)).as("tr"))))
      .crossJoin(broadcast(tgt.agg(coalesce(sum("ct"), lit(0L)).as("tt"))))
      .withColumn("s4", expr(
        s"""cast(round((ln(cast(ct + 1 as double)
            / cast(tt + $buckets as double))
            - ln(cast(cr + 1 as double)
            / cast(tr + $buckets as double))) * 10000) as bigint)"""))
      .select("b", "s4")
  }
}
