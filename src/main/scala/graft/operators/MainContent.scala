package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{array_join, coalesce, col,
  expr, explode, first, last, length, lit, udf, when}

/** Main-content extraction — the jusText/Boilerpipe-class PAGE-LEVEL
  * boilerplate step (per-host line frequency catches site chrome
  * repeated across pages; THIS catches the nav bars, link farms, and
  * footers of a page seen once): blocks are classified by link
  * density and stopword density, then context-corrected — a short
  * headline between two paragraphs of prose is content, the same
  * line inside a link cluster is chrome. The classifier is the
  * published jusText shape (Pomikálek 2011) re-expressed as pure
  * DataFrame algebra: per-block columns, one when/otherwise ladder,
  * and two per-document window functions for the context pass — no
  * per-doc loops, so at 100 TB it is one explode + windows
  * partitioned by document id.
  *
  * Reference analog: none — LLM-pipeline surface beyond the
  * reference (SURVEY.md north-star: web-corpus quality).
  */
object MainContent {

  /** One visible text block, with how many of its characters were
    * rendered from inside an `<a>` element.
    */
  final case class HtmlBlock(text: String, linkChars: Int)

  /** [[TextOps.htmlText]]'s scanner with LINK ATTRIBUTION: same
    * block splitting, tag/entity/comment handling, and whitespace
    * collapse (the equivalence `htmlBlocks(h).map(_.text) ==
    * htmlText(h) lines` is spec-pinned so the two scanners cannot
    * drift), plus an anchor-depth counter so every emitted character
    * knows whether it came from inside a link. Separator characters
    * inserted by the collapse are never link-attributed. Never
    * throws.
    */
  def htmlBlocks(html: String): Seq[HtmlBlock] = {
    if (html == null) return Seq.empty
    val n = html.length
    val sb = new java.lang.StringBuilder(n)
    val linkFlag = new java.util.BitSet(n)
    var anchorDepth = 0
    def lowerAt(i: Int, s: String): Boolean =
      i + s.length <= n &&
        html.regionMatches(true, i, s, 0, s.length)
    def append(c: Char, link: Boolean): Unit = {
      if (link) linkFlag.set(sb.length)
      sb.append(c)
    }
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (lowerAt(i, "<!--")) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
          append(' ', link = false)
        } else if (lowerAt(i, "<script")) {
          var end = i + 7
          while (end < n && !lowerAt(end, "</script")) end += 1
          val gt = html.indexOf('>', end)
          i = if (end >= n || gt < 0) n else gt + 1
          append('\n', link = false)
        } else if (lowerAt(i, "<style")) {
          var end = i + 6
          while (end < n && !lowerAt(end, "</style")) end += 1
          val gt = html.indexOf('>', end)
          i = if (end >= n || gt < 0) n else gt + 1
          append('\n', link = false)
        } else {
          val gt = html.indexOf('>', i + 1)
          var ni = i + 1
          val closing = ni < n && html.charAt(ni) == '/'
          if (closing) ni += 1
          val ns = ni
          while (ni < n && html.charAt(ni).isLetterOrDigit) ni += 1
          val name = html.substring(ns, ni).toLowerCase
          val selfClosing = gt > 0 && html.charAt(gt - 1) == '/'
          if (name == "a" && !selfClosing) {
            if (closing) anchorDepth = math.max(0, anchorDepth - 1)
            else anchorDepth += 1
          }
          i = if (gt < 0) n else gt + 1
          append(if (TextOps.isBlockTag(name)) '\n' else ' ',
            link = false)
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
        if (decoded != null) {
          decoded.foreach(append(_, anchorDepth > 0))
          i = semi + 1
        } else {
          append('&', anchorDepth > 0)
          i += 1
        }
      } else {
        append(c, anchorDepth > 0)
        i += 1
      }
    }
    // collapse whitespace within lines, split blocks at newlines —
    // the same rules as htmlText, carrying link counts along
    val out = scala.collection.mutable.ArrayBuffer[HtmlBlock]()
    val cur = new java.lang.StringBuilder()
    var curLinks = 0
    def closeBlock(): Unit = {
      if (cur.length > 0) {
        out += HtmlBlock(cur.toString, curLinks)
        cur.setLength(0)
        curLinks = 0
      }
    }
    var k = 0
    var pendingSpace = false
    while (k < sb.length) {
      val c = sb.charAt(k)
      if (c == '\n') { closeBlock(); pendingSpace = false }
      else if (Character.isWhitespace(c)) pendingSpace = true
      else {
        if (pendingSpace && cur.length > 0) cur.append(' ')
        pendingSpace = false
        cur.append(c)
        if (linkFlag.get(k)) curLinks += 1
      }
      k += 1
    }
    closeBlock()
    out.toSeq
  }

  /** The classifier's stopword set — a small function-word list (the
    * jusText design needs only "does this read as running prose",
    * not linguistic coverage). ONE definition shared by the batch
    * classifier and the oracle fixtures.
    */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "is", "are", "and", "or", "to", "in",
    "for", "on", "that", "this", "it", "as", "was", "with", "be",
    "by", "at", "from")

  /** Per-block rows for `htmlCol`: every other column is kept,
    * plus (block_idx, block, link_chars).
    */
  def contentBlocks(df: DataFrame, htmlCol: String): DataFrame = {
    val blocksUdf = udf((h: String) =>
      htmlBlocks(h).zipWithIndex.map { case (b, i) =>
        (i, b.text, b.linkChars)
      })
    df.withColumn("__b", explode(blocksUdf(col(htmlCol))))
      .select((df.columns.filter(_ != htmlCol).map(col).toSeq ++
        Seq(col("__b._1").as("block_idx"), col("__b._2").as("block"),
          col("__b._3").as("link_chars"))): _*)
  }

  /** jusText-shaped two-phase classification. Phase 1 per block:
    * link density > 0.2 -> `bad`; under 70 chars -> `short`;
    * stopword density >= 0.30 -> `good` over 200 chars else
    * `neargood`; otherwise `bad`. Phase 2 (context): a `short` /
    * `neargood` block is KEPT when its nearest DECIDED (good/bad)
    * neighbor on either side is good — the headline-between-
    * paragraphs rescue; `good` is always kept, `bad` never. Two
    * window functions per document, no loops. Output: the block
    * rows plus (cls, kept).
    */
  def classifyBlocks(df: DataFrame, idCol: String,
      htmlCol: String): DataFrame = {
    val stopArr = Stopwords.map(w => s"'$w'").mkString(", ")
    val blocks = contentBlocks(df, htmlCol)
      .withColumn("__nw", expr(
        "size(filter(split(block, ' '), x -> x != ''))"))
      .withColumn("__stop", expr(
        s"size(filter(split(block, ' '), x -> array_contains(" +
          s"array($stopArr), lower(x)))) / greatest(__nw, 1)"))
      .withColumn("__ld", col("link_chars") /
        expr("greatest(length(block), 1)"))
      .withColumn("cls",
        when(col("__ld") > 0.2, "bad")
          .when(length(col("block")) < 70, "short")
          .when(col("__stop") >= 0.30 &&
            length(col("block")) > 200, "good")
          .when(col("__stop") >= 0.30, "neargood")
          .otherwise("bad"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("block_idx"))
    val decided = when(col("cls") === "good" || col("cls") === "bad",
      col("cls"))
    blocks
      .withColumn("__prev", last(decided, ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__next", first(decided, ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
      .withColumn("kept", coalesce(
        col("cls") === "good" ||
          ((col("cls") === "short" || col("cls") === "neargood") &&
            (col("__prev") === "good" || col("__next") === "good")),
        lit(false))) // no decided neighbor at all -> not kept
      .drop("__nw", "__stop", "__ld", "__prev", "__next")
  }

  /** Extract each document's main content: classify, keep, and
    * reassemble in block order (all-chrome pages come back "").
    * Replaces `htmlCol` with the extracted text.
    */
  def mainContent(df: DataFrame, idCol: String,
      htmlCol: String): DataFrame = {
    val kept = classifyBlocks(df, idCol, htmlCol)
      .where(col("kept"))
      .groupBy(col(idCol))
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(block_idx," +
          " block))), x -> x.block)"), "\n").as("__content"))
    df.drop(htmlCol)
      .join(kept, Seq(idCol), "left")
      .withColumn(htmlCol, coalesce(col("__content"), lit("")))
      .drop("__content")
  }
}
