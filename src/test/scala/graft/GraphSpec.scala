package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.LinkExtract
import graft.pipeline.{GraphJobs, UrlOps}

/** The web link-graph family: RFC 3986 §5 reference resolution (pinned
  * on the RFC's own §5.4 example set), the anchor scanner, and the
  * distributed host-graph / PageRank / anchor-text jobs — PageRank
  * differentially checked against an independent driver-side
  * implementation on the same graph. */
class GraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-graph-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // --------------------------------------------- RFC 3986 §5.4 resolution

  private val Base = "http://a/b/c/d;p?q"

  /** §5.4.1 normal examples (fragments dropped by design — crawl keys). */
  test("resolve: RFC 3986 §5.4.1 normal examples") {
    val cases = Seq(
      "g" -> "http://a/b/c/g",
      "./g" -> "http://a/b/c/g",
      "g/" -> "http://a/b/c/g/",
      "/g" -> "http://a/g",
      "//g" -> "http://g",
      "?y" -> "http://a/b/c/d;p?y",
      "g?y" -> "http://a/b/c/g?y",
      "#s" -> "http://a/b/c/d;p?q", // RFC keeps #s; we drop fragments
      "g#s" -> "http://a/b/c/g",
      "g?y#s" -> "http://a/b/c/g?y",
      ";x" -> "http://a/b/c/;x",
      "g;x" -> "http://a/b/c/g;x",
      "g;x?y#s" -> "http://a/b/c/g;x?y",
      "" -> "http://a/b/c/d;p?q",
      "." -> "http://a/b/c/",
      "./" -> "http://a/b/c/",
      ".." -> "http://a/b/",
      "../" -> "http://a/b/",
      "../g" -> "http://a/b/g",
      "../.." -> "http://a/",
      "../../" -> "http://a/",
      "../../g" -> "http://a/g")
    for ((ref, want) <- cases)
      assert(UrlOps.resolve(Base, ref) == want, s"ref=$ref")
  }

  test("resolve: RFC 3986 §5.4.2 abnormal examples (strict parser)") {
    val cases = Seq(
      "../../../g" -> "http://a/g",
      "../../../../g" -> "http://a/g",
      "/./g" -> "http://a/g",
      "/../g" -> "http://a/g",
      "g." -> "http://a/b/c/g.",
      ".g" -> "http://a/b/c/.g",
      "g.." -> "http://a/b/c/g..",
      "..g" -> "http://a/b/c/..g",
      "./../g" -> "http://a/b/g",
      "./g/." -> "http://a/b/c/g/",
      "g/./h" -> "http://a/b/c/g/h",
      "g/../h" -> "http://a/b/c/h",
      "g;x=1/./y" -> "http://a/b/c/g;x=1/y",
      "g;x=1/../y" -> "http://a/b/c/y",
      "g?y/./x" -> "http://a/b/c/g?y/./x",
      "g?y/../x" -> "http://a/b/c/g?y/../x",
      // strict: a ref with its own scheme is taken on its own terms
      "http:g" -> "http:g")
    for ((ref, want) <- cases)
      assert(UrlOps.resolve(Base, ref) == want, s"ref=$ref")
  }

  test("resolve: totality on junk bases and refs") {
    assert(UrlOps.resolve(null, "x") == null)
    assert(UrlOps.resolve("not a url", "x") == null)
    assert(UrlOps.resolve("mailto:a@b", "x") == null) // base has no authority
    assert(UrlOps.resolve(Base, null) == null)
    assert(UrlOps.resolve(Base, "mailto:a@b") == "mailto:a@b") // opaque passthrough
    assert(UrlOps.resolve(Base, "javascript:void(0)") == "javascript:void(0)")
    assert(UrlOps.resolve(Base, "HTTPS://H:443/x#f") == "https://H:443/x") // own scheme, lowered
  }

  test("hostOf: userinfo, ports, brackets, non-hierarchical") {
    assert(UrlOps.hostOf("https://u:p@WWW.Ex.ORG:8443/a?q") == "www.ex.org")
    assert(UrlOps.hostOf("http://h") == "h")
    assert(UrlOps.hostOf("http://[2001:db8::1]:8080/x") == "[2001:db8::1]")
    assert(UrlOps.hostOf("mailto:a@b") == null)
    assert(UrlOps.hostOf("relative/path") == null)
    assert(UrlOps.hostOf(null) == null)
  }

  // ------------------------------------------------------- anchor scanner

  test("scanner: base tag, entity-decoded hrefs, rel tokens, document order") {
    val html =
      """<html><head><base href="/en/sub/"><base href="/ignored/"></head><body>
        |<a href="a?x=1&amp;y=2">One</a>
        |<a REL="external NoFollow" href='/two'>Two &amp; half</a>
        |<a href="">empty skipped</a>
        |<a name="anchor-only">no href</a>
        |<script>var s = "<a href='/decoy'>fake</a>";</script>
        |<a href="/three"><b>Bold</b> three</a>
        |</body></html>""".stripMargin
    val (base, links) = LinkExtract.scan(html)
    assert(base.contains("/en/sub/")) // first <base> wins
    assert(links.map(_.href) == Vector("a?x=1&y=2", "/two", "/three"))
    assert(links.map(_.text) == Vector("One", "Two & half", "Bold three"))
    assert(links.map(_.nofollow) == Vector(false, true, false))
  }

  test("scanner: <a> does not nest — an open tag implicitly closes") {
    val (_, links) = LinkExtract.scan(
      """<a href="/1">first <a href="/2">second</a> tail""")
    assert(links.map(_.href) == Vector("/1", "/2"))
    assert(links.map(_.text) == Vector("first", "second"))
  }

  test("scanner: unquoted attribute values; self-closing flag ignored on <a>") {
    val (_, links) = LinkExtract.scan(
      """<a href=/u1>u</a><a href=/u2/>v</a><a href="/w"/>still open""")
    // HTML5: '/' is part of an unquoted value, and the self-closing
    // solidus is ignored on non-void elements — browsers open all three
    assert(links.map(_.href) == Vector("/u1", "/u2/", "/w"))
    assert(links.map(_.text) == Vector("u", "v", "still open"))
  }

  test("scanner: totality on truncation — prefix of links survives") {
    val html = """<a href="/one">one</a><a href="/two">tw"""
    val (_, links) = LinkExtract.scan(html)
    assert(links.map(_.href) == Vector("/one", "/two"))
    assert(links(1).text == "tw")
    for (cut <- 0 to html.length) // never throws at any truncation point
      LinkExtract.scan(html.substring(0, cut))
    assert(LinkExtract.scan(null)._2.isEmpty)
    assert(LinkExtract.scan("")._2.isEmpty)
    // a tag the end of input cuts off is not emitted (HTML5 eof-in-tag)
    assert(LinkExtract.scan("<a href=x")._2.isEmpty)
  }

  // ---------------------------------------------------- end-to-end pages

  test("extractLinks: linked page resolves, filters and canonicalizes") {
    import spark.implicits._
    val page = GraphJobs.linkedPage(6L, "acme", "en", "body text")
    val pages = Seq(graft.pipeline.PageDoc(
      6L, GraphJobs.pageUrlFor("acme", "en", 6L), page)).toDS()
    val links = GraphJobs.extractLinks(spark, pages).collect().sortBy(_.pos)
    assert(links.map(_.dst_url).toVector == Vector(
      "https://www.acme-site.com/home",
      "https://www.acme-site.com/en/sub/about.html",
      "https://www.acme-site.com/en/up/page?a=1&b=2",
      "https://cdn.acme-site.co.uk/en/?q=1",
      "https://partner-0.example/x/",
      "https://ads.acme-net.com/click?id=6",
      "https://www.acme-site.com/en/sub/"))
    assert(links.map(_.anchor).toVector == Vector(
      "Home", "About us", "Up page", "Mirror", "Visit partner 0",
      "Sponsored", "Top"))
    assert(links.map(_.nofollow).toVector ==
      Vector(false, false, false, false, false, true, false))
    assert(links.forall(_.src_url == "https://www.acme-site.com/en/d6.html"))
  }

  test("hostGraph: nofollow and self-site edges drop; weights count links") {
    import spark.implicits._
    val links = Seq(
      // (doc, src, pos, dst, anchor, nofollow)
      graft.pipeline.DocLink(1, "https://a.one.com/p", 0, "https://b.one.com/q", "self", false),
      graft.pipeline.DocLink(1, "https://a.one.com/p", 1, "https://two.org/x", "t", false),
      graft.pipeline.DocLink(2, "https://a.one.com/r", 0, "https://two.org/y", "t", false),
      graft.pipeline.DocLink(3, "https://a.one.com/s", 0, "https://spam.net/", "s", true))
      .toDS().toDF()
    val edges = GraphJobs.hostGraph(links).orderBy("src_site", "dst_site").collect()
    assert(edges.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("one.com", "two.org", 2L)))
  }

  // -------------------------------------------------------------- pagerank

  /** Independent driver-side PageRank (same published semantics). */
  private def refPageRank(edges: Seq[(String, String, Long)], iters: Int,
      d: Double): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val outW = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3.toDouble).sum }
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(outW.contains).map(rank).sum
      val contrib = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      for ((s, t, w) <- edges) contrib(t) += rank(s) * (w.toDouble / outW(s))
      rank = nodes.map(v => v -> ((1 - d) / n + d * (contrib(v) + dm / n))).toMap
    }
    rank
  }

  test("pageRank: differential vs independent implementation; mass conserved") {
    import spark.implicits._
    // a graph with a dangling node (d), a weighted fan, and a 2-cycle
    val edges = Seq(
      ("a", "b", 3L), ("a", "c", 1L), ("b", "a", 1L),
      ("b", "d", 2L), ("c", "d", 1L), ("e", "a", 5L))
    val df = edges.toDF("src", "dst", "weight")
    for (iters <- Seq(1, 3, 7)) {
      val got = GraphJobs.pageRank(df, iters, 0.85)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val want = refPageRank(edges, iters, 0.85)
      assert(got.keySet == want.keySet)
      for ((k, w) <- want)
        assert(math.abs(got(k) - w) < 1e-12, s"node=$k iters=$iters")
      assert(math.abs(got.values.sum - 1.0) < 1e-9) // probability mass conserved
    }
  }

  test("pageRank: driver-local dispatch == forced distributed loop (ppm)") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b", 3L), ("a", "c", 1L), ("b", "a", 1L),
      ("b", "d", 2L), ("c", "d", 1L), ("e", "a", 5L))
    // and a one-edge graph: the distributed loop's node count is observed
    // on its cut, and a lost observation would block forever
    val oneEdge = Seq(("a", "b", 1L))
    for (df <- Seq(edges, oneEdge).map(_.toDF("src", "dst", "weight"))) {
      val local = GraphJobs.pageRank(df, 4, 0.85)
        .collect().map(r => r.getString(0) -> math.round(r.getDouble(1) * 1e6)).toMap
      val dist = Await.result(Future(GraphJobs.pageRank(df, 4, 0.85, driverEdgeLimit = 0L)
        .collect().map(r => r.getString(0) -> math.round(r.getDouble(1) * 1e6)).toMap), 5.minutes)
      assert(local == dist)
    }
  }

  test("pageRank: a sink accumulates rank; uniform graph stays uniform") {
    import spark.implicits._
    // star into a sink: everyone points at z
    val star = Seq(("a", "z", 1L), ("b", "z", 1L), ("c", "z", 1L)).toDF("src", "dst", "weight")
    val r = GraphJobs.pageRank(star, 5, 0.85)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("z") > r("a") * 2)
    assert(r("a") == r("b") && r("b") == r("c"))
    // symmetric 2-cycle: equal ranks of 1/2
    val cyc = Seq(("p", "q", 1L), ("q", "p", 1L)).toDF("src", "dst", "weight")
    val rc = GraphJobs.pageRank(cyc, 4, 0.85)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(rc("p") - 0.5) < 1e-12 && math.abs(rc("q") - 0.5) < 1e-12)
  }

  test("anchorTopK: count desc then text asc, k bound") {
    import spark.implicits._
    val links = (1 to 5).map(i => graft.pipeline.DocLink(
      i.toLong, "https://s.net/", 0, "https://t.org/x", if (i <= 3) "Beta" else "Alpha", false)) ++
      Seq(graft.pipeline.DocLink(9, "https://s.net/", 1, "https://t.org/y", "Gamma", false))
    val out = GraphJobs.anchorTopK(links.toDS().toDF(), 2)
      .orderBy("dst_site", "rk").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(out.toSeq == Seq(("t.org", "Beta", 3L, 1), ("t.org", "Alpha", 2L, 2)))
  }
}
