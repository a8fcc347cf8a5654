package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.FeedText
import graft.pipeline.FeedText.Entry
import graft.plans.FeedExprs

/** RSS/Atom/sitemap parsing: root sniff through prologs/comments/
  * namespace prefixes, encode/parse round trips, CDATA and entity
  * decode, attribute links in both quote styles, truncation partials,
  * totality on non-feeds, and kernel == expression through a real plan
  * (explode included). */
class FeedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-feed-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val es = Seq(
    Entry("plain title", "https://a.example/1", "2026-01-01"),
    Entry("entities & <brackets> \"q\"", "https://a.example/2?a=1&b=2", "2026-01-02"))

  test("kind: root sniff skips prolog/comments, strips ns prefixes") {
    assert(FeedText.kind(FeedText.encodeRss(es)) == "rss")
    assert(FeedText.kind(FeedText.encodeAtom(es)) == "atom")
    assert(FeedText.kind(FeedText.encodeSitemap(es)) == "sitemap")
    assert(FeedText.kind("<?xml version=\"1.0\"?><!-- c --><atom:feed>") == "atom")
    assert(FeedText.kind("<urlset>") == "sitemap")
    assert(FeedText.kind("<sitemapindex>") == "sitemap")
    assert(FeedText.kind("<html><body>nope</body></html>") == null)
    assert(FeedText.kind("") == null)
    assert(FeedText.kind(null) == null)
  }

  test("rss round trip: CDATA titles, escaped links, pubDate") {
    val got = FeedText.entries(FeedText.encodeRss(es)).toSeq
    assert(got == es)
  }

  test("atom round trip: escaped titles, href links, updated") {
    val got = FeedText.entries(FeedText.encodeAtom(es)).toSeq
    assert(got == es)
  }

  test("sitemap round trip: loc/lastmod, no titles by protocol") {
    val got = FeedText.entries(FeedText.encodeSitemap(es)).toSeq
    assert(got == es.map(e => Entry(null, e.link, e.ts)))
  }

  test("hand-built feeds: single-quoted href, charrefs, channel title excluded") {
    val atom = "<feed><title>FEED TITLE</title>" +
      "<entry><title>&#65;&#x42;c</title><link href='https://h.example/x'/>" +
      "<updated>t1</updated></entry></feed>"
    assert(FeedText.entries(atom).toSeq ==
      Seq(Entry("ABc", "https://h.example/x", "t1")))
    // channel-level <title>/<link> must not leak into entries
    val rss = "<rss><channel><title>chan</title><link>https://chan</link>" +
      "<item><title>i1</title><link>https://i1</link><pubDate>d1</pubDate></item>" +
      "</channel></rss>"
    assert(FeedText.entries(rss).toSeq == Seq(Entry("i1", "https://i1", "d1")))
    // CDATA is literal character data: its entities stay undecoded
    val cdata = "<rss><channel><item><title><![CDATA[AT&amp;T news]]></title>" +
      "<link>https://c</link><pubDate>d2</pubDate></item></channel></rss>"
    assert(FeedText.entries(cdata).toSeq == Seq(Entry("AT&amp;T news", "https://c", "d2")))
    // a '>' inside a quoted attribute value does not end the tag
    val gt = "<feed><entry><title>g</title><link href=\"https://e.example/?a>b\"/>" +
      "<updated>t2</updated></entry></feed>"
    assert(FeedText.entries(gt).toSeq == Seq(Entry("g", "https://e.example/?a>b", "t2")))
  }

  test("hyphenated/namespaced attributes do not shadow href") {
    // data-href and xlink:href contain href as a suffix after a legal XML
    // NAME char — neither may be read as the link's href
    val atom = "<feed><entry><title>t</title>" +
      "<link data-href=\"https://wrong.example/a\" href=\"https://right.example/a\"/>" +
      "<updated>t1</updated></entry>" +
      "<entry><title>u</title>" +
      "<link xlink:href=\"https://wrong.example/b\"/>" +
      "<updated>t2</updated></entry></feed>"
    val got = FeedText.entries(atom).toSeq
    assert(got == Seq(
      Entry("t", "https://right.example/a", "t1"),
      Entry("u", null, "t2")))
  }

  test("truncation yields completed entries; non-feed yields null") {
    val full = FeedText.encodeRss(es)
    val cut = full.substring(0, full.indexOf("<item>", full.indexOf("<item>") + 1) + 20)
    val got = FeedText.entries(cut)
    assert(got != null && got.length == 1 && got(0) == es.head)
    assert(FeedText.entries("<html>x</html>") == null)
    assert(FeedText.entries(null) == null)
  }

  test("expressions match the kernel through a real plan with explode") {
    FeedExprs.register(spark)
    import spark.implicits._
    val rows = Seq(
      (0L, FeedText.encodeRss(es)),
      (1L, FeedText.encodeAtom(es)),
      (2L, FeedText.encodeSitemap(es)),
      (3L, "<html>not a feed</html>"))
    val df = rows.toDF("id", "xml")
    val kinds = df.select(col("id"), FeedExprs.feed_kind(col("xml")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kinds == Map(0L -> "rss", 1L -> "atom", 2L -> "sitemap", 3L -> null))
    val exploded = df
      .select(col("id"), explode(FeedExprs.feed_entries(col("xml"))).as("e"))
      .select(col("id"), col("e.title"), col("e.link"), col("e.ts"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(exploded.length == 6) // 2 entries x 3 feeds; the non-feed drops out
    assert(exploded.count(_._1 == 2L) == 2)
    assert(exploded.filter(_._1 == 0L).map(_._2).toSeq ==
      es.map(_.title))
  }
}
