package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** MainContent: the link-attributing scanner is pinned EQUIVALENT to
  * htmlText's block splitting, link attribution is exact, and the
  * jusText-shaped two-phase classification keeps prose, rescues
  * headlines between paragraphs, and drops chrome.
  */
class MainContentSpec extends SparkSuite {
  import spark.implicits._

  private val pages = Seq(
    "<html><body><div><a href=x>Home</a> <a>News</a></div>" +
      "<h1>Big Title</h1><p>the story of the day is that the work " +
      "of the team is done and the result of it is good for all of " +
      "us and the plan of the week is set out in the notes of the " +
      "run for the record and the rest</p>" +
      "<div>Copyright Acme</div></body></html>",
    "<p>No links at all, just a short note.</p>",
    "<ul><li><a>one</a></li><li><a>two</a></li></ul>",
    "<p>Café &amp; friends &#233; <a>link&nbsp;text</a> tail</p>",
    "<script>var x = '<p>not text</p>';</script><p>after script</p>",
    "<!-- c --><b>bold</b> and <i>italic</i> run on one line",
    "")

  test("scanner equivalence: htmlBlocks text == htmlText lines on " +
    "every fixture page (the two scanners cannot drift)") {
    pages.foreach { h =>
      val blocks = MainContent.htmlBlocks(h).map(_.text)
      val lines = TextOps.htmlText(h) match {
        case "" => Seq.empty
        case t => t.split("\n").toSeq
      }
      assert(blocks === lines, s"page: $h")
    }
    assert(MainContent.htmlBlocks(null) === Seq.empty)
  }

  test("link attribution: anchor text counts, separators and " +
    "outside text do not; entities inside links attribute; nested " +
    "and unclosed anchors never go negative") {
    val b = MainContent.htmlBlocks(
      "<div><a href=u>Home</a> <a>News</a> tail</div>")
    assert(b.map(_.text) === Seq("Home News tail"))
    assert(b.head.linkChars === 8) // Home + News, not the spaces/tail
    val ent = MainContent.htmlBlocks("<p><a>link&nbsp;text</a> x</p>")
    assert(ent.head.text === "link text x")
    // 'link' + 'text' linked; the &nbsp;-rendered space separator
    // is whitespace-collapsed and never counted; the tail is not
    assert(ent.head.linkChars === 8)
    val stray = MainContent.htmlBlocks("</a></a>plain <a>in")
    assert(stray.head.text === "plain in")
    assert(stray.head.linkChars === 2)
  }

  test("two-phase classification: prose keeps, the headline between " +
    "chrome and prose rescues via its good neighbor, link farms and " +
    "orphaned footers drop") {
    val prose = "the story of the day is that the work of the team " +
      "is done and the result of it is good for all of us and the " +
      "plan of the week is set out in the notes of the run for the " +
      "record and the rest of the report is in the appendix of the " +
      "file for review"
    val html =
      "<div><a>Home</a> <a>News</a> <a>About</a></div>" + // bad: links
      "<h1>Big Title</h1>" +                              // short -> rescue
      s"<p>$prose</p>" +                                  // good
      "<div>See also more</div>" +                        // short -> rescue
      s"<p>$prose extended for the second part of it</p>" + // good
      "<div><a>p one</a> <a>p two</a> <a>p three</a> <a>p four</a>" +
        " <a>p five</a> <a>p six</a> <a>p seven</a></div>" + // bad
      "<div>Copyright Acme Inc</div>"                     // short, no good side -> drop
    val out = MainContent.classifyBlocks(
        Seq((1L, html)).toDF("doc_id", "html"), "doc_id", "html")
      .orderBy("block_idx")
      .select("block", "cls", "kept")
      .as[(String, String, Boolean)].collect().toSeq
    assert(out.map(_._2) === Seq("bad", "short", "good", "short",
      "good", "bad", "short"))
    assert(out.map(_._3) === Seq(false, true, true, true, true,
      false, false))
    val content = MainContent.mainContent(
        Seq((1L, html), (2L, "<div><a>only chrome</a></div>"))
          .toDF("doc_id", "html"), "doc_id", "html")
      .orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    assert(content(0)._2 === Seq("Big Title", prose, "See also more",
      s"$prose extended for the second part of it").mkString("\n"))
    assert(content(1)._2 === "") // all-chrome page
  }

  test("hostility: garbage, unterminated tags, huge entity refs — " +
    "never a throw, scanner equivalence holds") {
    val rnd = new scala.util.Random(17)
    (1 to 200).foreach { _ =>
      val junk = (1 to 80).map(_ =>
        "<a>x</a><p&&;#<div>&#xZZ; </".charAt(
          rnd.nextInt(28)).toString).mkString
      val blocks = MainContent.htmlBlocks(junk).map(_.text)
      val lines = TextOps.htmlText(junk) match {
        case "" => Seq.empty
        case t => t.split("\n").toSeq
      }
      assert(blocks === lines)
    }
  }
}
