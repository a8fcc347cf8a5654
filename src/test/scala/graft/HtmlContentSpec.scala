package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.HtmlContent
import graft.pipeline.{HtmlDoc, HtmlJob}

/** HTML main-content extraction (north rule: boilerplate strip via
  * text-density/link-density heuristics). The strongest check is the
  * round-trip self-oracle: text wrapped in [[HtmlJob.chromePage]]'s fixed
  * boilerplate chrome must come back as exactly (heading, normalized text,
  * media ref) — every chrome block stripped. Hostile-input cases pin the
  * tokenizer's never-throw contract.
  */
class HtmlContentSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-html-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val longText =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo " +
      "lima mike november oscar papa quebec romeo sierra tango"  // 20 words

  test("round-trip: chrome page yields heading + paragraph + media only") {
    val html = HtmlJob.chromePage(7L, longText)
    val spans = HtmlContent.extract(html)
    assert(spans.map(_.kind) == Seq("text", "text", "media"))
    assert(spans(0).text == "Case Report 7")
    assert(spans(1).text == longText)
    assert(spans(2).media_ref == "img://7/0")
    assert(spans.map(_.offset) == Seq(0, 1, 2))
    // no chrome text leaks
    val all = spans.map(_.text).mkString(" ")
    for (chrome <- Seq("Home", "Cases", "About", "Related", "Terms",
        "Privacy", "Graft Portal", "reserved", "trk"))
      assert(!all.contains(chrome), s"chrome leak: $chrome")
  }

  test("short paragraph (<17 words) is classified boilerplate; media kept") {
    val html = HtmlJob.chromePage(3L, "too short to be content")
    val spans = HtmlContent.extract(html)
    assert(spans.map(_.kind) == Seq("media"))
  }

  test("17-word boundary: paragraph and promoted heading survive") {
    val w16 = (1 to 16).map(i => s"w$i").mkString(" ")
    val w17 = (1 to 17).map(i => s"w$i").mkString(" ")
    assert(HtmlContent.extract(HtmlJob.chromePage(1L, w16)).count(_.kind == "text") == 0)
    assert(HtmlContent.extract(HtmlJob.chromePage(1L, w17)).count(_.kind == "text") == 2)
  }

  test("entities round-trip: & < > nbsp and numeric forms") {
    val raw = "Smith & Jones <Holdings> judgment for 100 > 50 plus extra " +
      "words to clear the content threshold easily one two three four"
    val spans = HtmlContent.extract(HtmlJob.chromePage(2L, raw))
    assert(spans.exists(_.text == raw))
    // direct entity decode incl. numeric + hex + unknown passthrough
    val evs = HtmlContent.tokenize(
      "<p>a&amp;b &#65; &#x42; &nbsp; &bogus; &unterminated</p>")
    val tb = evs.collect { case t: HtmlContent.TextBlock => t }.head
    assert(tb.text == "a&b A B &bogus; &unterminated")
  }

  test("media in negative containers dropped, in content kept, order stable") {
    val html = "<html><body>" +
      "<nav><img src='chrome://logo'/><a href='/'>Home</a></nav>" +
      "<article><p>" + longText + "</p>" +
      "<img src='fig://1'/><p>" + longText + "</p><video src='vid://2'/></article>" +
      "<footer><img src='chrome://badge'/></footer></body></html>"
    val spans = HtmlContent.extract(html)
    assert(spans.filter(_.kind == "media").map(_.media_ref) == Seq("fig://1", "vid://2"))
    assert(spans.map(_.kind) == Seq("text", "media", "text", "media"))
  }

  test("hostile input never throws and drops script/style/comment content") {
    val cases = Seq(
      "",
      "<",
      "<<<>>>",
      "<p>unclosed",
      "<p a=\">\">attr with gt</p>",
      "<script>if (a<b) { document.write('<div>evil</div>'); }</script><p>" + longText + "</p>",
      "<style>p>span{color:red}</style><p>" + longText + "</p>",
      "<!-- <p>commented out</p> --><p>" + longText + "</p>",
      "<P>" + longText.toUpperCase + "</P>",
      "<p>" + longText + "<p>5 < 6 and 7 > 2",
      "<![CDATA[raw & chars]]><p>" + longText + "</p>",
      "<img src=bare-src-no-quotes.png><p>" + longText + "</p>",
      // U+017F folds to 's' only under Unicode case folding: not a close tag
      "<script>evil()</\u017Fcript><p>" + longText + "</p>",
      "<a href='/x'>" + longText + "</a>"  // fully-linked block: boilerplate
    )
    cases.foreach { h =>
      val spans = HtmlContent.extract(h)  // must not throw
      val joined = spans.map(_.text).mkString(" ")
      assert(!joined.contains("evil"))
      assert(!joined.contains("color:red"))
      assert(!joined.contains("commented out"))
    }
    // fully-linked block has link density 1 -> boilerplate
    assert(HtmlContent.extract(cases.last).isEmpty)
    // HTML5 folds tag names ASCII-only, so the script runs to the end
    assert(HtmlContent.extract(cases(12)).isEmpty)
    // and ignores `/>` on a non-void element: the anchor still opens, so
    // its 18 words make the block fully linked
    val words18 = longText.split(' ').take(18).mkString(" ")
    assert(HtmlContent.extract("<p><a href=\"/u\"/>" + words18 + "</a></p>").isEmpty)
    // bare src attribute parsed; an unquoted value runs to whitespace or
    // '>' (HTML5), so a '/' inside it does not end it
    assert(HtmlContent.extract(cases(11)).exists(_.media_ref == "bare-src-no-quotes.png"))
    Seq("/images/a.png", "img/a.png").foreach { src =>
      val refs = HtmlContent.extract(s"<img src=$src><p>" + longText + "</p>")
        .filter(_.kind == "media").map(_.media_ref)
      assert(refs == Seq(src))
    }
    // HTML5 tag reading: a stray quote is part of an attribute name or
    // unquoted value, not the start of a value that swallows the page
    assert(HtmlContent.extract("<p class=a\"b>" + longText + "</p><p>x\" more</p>").map(_.text) ==
      Seq(longText, "x\" more"))
    // `src` is a whole attribute name, the first of two wins, its value is
    // entity-decoded, and a tag cut off by the end of input is dropped
    Seq("<img title=src=a.png><p>" + longText + "</p>" -> Seq(),
      "<img src=a.png src=b.png><p>" + longText + "</p>" -> Seq("a.png"),
      "<img src=\"a?x=1&amp;y=2\"><p>" + longText + "</p>" -> Seq("a?x=1&y=2"),
      "<p>" + longText + "</p><img src=x" -> Seq()).foreach { case (h, want) =>
      assert(HtmlContent.extract(h).filter(_.kind == "media").map(_.media_ref) == want, h)
    }
  }

  test("fuzz: 3000 seeded garbage documents never throw and emit well-formed spans") {
    val rng = new scala.util.Random(20260817L)
    val fragments = Array(
      "<", ">", "&", "amp;", "<p>", "</p>", "<P >", "<script>", "</script>",
      "<a href='x'>", "</a>", "<!--", "-->", "<![CDATA[", "]]>", "plain text ",
      "&#65;", "&#xZZ;", "&#x41;", "<img src=", "<img src='u'/>", "'", "\"",
      "=", "/", "\n", "中文內容 ", "<br/>", "<div", "<div class=\">\">",
      " ", "<>", "</", "<nav>", "</nav>", "<style>", "</style>", "&nbsp;",
      "<iframe src=x>", "<h1>", "</h1>", "<li>", "word1 word2 word3 ")
    (1 to 3000).foreach { _ =>
      val s = (0 until rng.nextInt(40))
        .map(_ => fragments(rng.nextInt(fragments.length))).mkString
      val spans = HtmlContent.extract(s) // must neither throw nor hang
      spans.zipWithIndex.foreach { case (sp, i) =>
        assert(sp.offset == i, s"offsets not sequential in: $s")
        assert(sp.kind == "text" || sp.kind == "media")
        if (sp.kind == "text") assert(sp.text.nonEmpty && sp.media_ref == "")
        else assert(sp.media_ref.nonEmpty && sp.text == "")
      }
    }
  }

  test("WSDM-2010 decision tree branches") {
    import HtmlContent.numWordsRules
    assert(!numWordsRules(0, 0.0, 10, 0.5, 0))          // curr link density > 1/3
    assert(numWordsRules(0, 0.0, 17, 0.0, 0))           // >16 words, clean prev
    assert(!numWordsRules(4, 0.0, 10, 0.0, 10))         // short, short ctx
    assert(numWordsRules(5, 0.0, 10, 0.0, 10))          // prev > 4 words
    assert(numWordsRules(0, 0.0, 5, 0.0, 16))           // next > 15
    assert(!numWordsRules(0, 0.6, 30, 0.0, 17))         // linky prev, next <= 17
    assert(numWordsRules(0, 0.6, 30, 0.0, 18))          // linky prev, next > 17
    assert(numWordsRules(0, 0.6, 41, 0.0, 0))           // linky prev, long curr
  }

  // ---- published-rule invariants (round-3 verdict #8): properties the
  // WSDM-2010 tree and the structural overrides must satisfy on ALL inputs,
  // not just the ASCII corpus the oracle sees.

  test("property: classifier is monotone non-increasing in link density") {
    // Raising either the current or the previous block's link density can
    // only demote content to boilerplate, never promote — the boilerplate
    // signal is links, so more links must never rescue a block.
    import HtmlContent.numWordsRules
    val r = new scala.util.Random(20260419L)
    for (_ <- 1 to 2000) {
      val pw = r.nextInt(60); val cw = r.nextInt(60); val nw = r.nextInt(60)
      val dLo = r.nextDouble(); val dHi = dLo + r.nextDouble() * (1.0 - dLo)
      val base = r.nextDouble()
      // curr axis: content at dHi implies content at dLo
      if (numWordsRules(pw, base, cw, dHi, nw))
        assert(numWordsRules(pw, base, cw, dLo, nw),
          s"curr-density promotion: ($pw,$base,$cw,$dLo->$dHi,$nw)")
      // prev axis: content with a linkier prev implies content with a cleaner prev
      if (numWordsRules(pw, dHi, cw, base, nw))
        assert(numWordsRules(pw, dLo, cw, base, nw),
          s"prev-density promotion: ($pw,$dLo->$dHi,$cw,$base,$nw)")
    }
  }

  test("property: negative-container blocks are never classified content") {
    // nav/aside/header/footer/form blocks are structurally boilerplate no
    // matter how wordy — including via the heading-promotion override.
    import HtmlContent.{TextBlock, Ev}
    val r = new scala.util.Random(20260420L)
    for (_ <- 1 to 500) {
      val n = 1 + r.nextInt(12)
      val evs: Vector[Ev] = (0 until n).map { _ =>
        val w = r.nextInt(80)
        TextBlock("w " * w, w, r.nextDouble() * 0.3,
          negative = r.nextBoolean(), heading = r.nextBoolean()): Ev
      }.toVector
      val flags = HtmlContent.classify(evs)
      evs.collect { case tb: TextBlock => tb }.zip(flags).foreach {
        case (tb, flag) => if (tb.negative) assert(!flag,
          s"negative block classified content: $tb in $evs")
      }
    }
  }

  test("Spark job: corpus wrap + distributed extraction matches local") {
    import spark.implicits._
    val docs = Seq(
      (10L, longText),
      (11L, "short text"),
      (12L, longText + " more words here")
    ).toDF("doc_id", "text")
    val out = HtmlJob.extractMainContent(spark, HtmlJob.wrapCorpus(spark, docs))
      .collect().map(h => h.doc_id -> h.spans).toMap
    assert(out(10L) == HtmlContent.extract(HtmlJob.chromePage(10L, longText)))
    assert(out(11L).map(_.kind) == Seq("media"))
    assert(out(12L).count(_.kind == "text") == 2)
  }
}
