package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.extract.LinkExtract
import graft.plans.UrlExprs

/** One fetched page: identity, fetch URL, raw HTML. */
final case class PageDoc(doc_id: Long, url: String, html: String)

/** One extracted outlink, resolved + canonicalized. `pos` is the link's
  * 0-based index among the page's kept (http/https) links in document
  * order. */
final case class DocLink(
    doc_id: Long, src_url: String, pos: Int,
    dst_url: String, anchor: String, nofollow: Boolean)

/** The web link graph family — the link-analysis side of a crawl
  * pipeline: outlink extraction (pages → edges), host-level graph
  * construction (eTLD+1 aggregation), PageRank (Brin & Page 1998, the
  * damped random-surfer iteration with dangling-mass redistribution),
  * and anchor-text aggregation (the classic anchor corpus used for both
  * retrieval and training data).
  *
  * Shape at 100 TB:
  *  - link extraction is map-only in the scan stage ([[LinkExtract]] +
  *    RFC 3986 resolution per anchor); raw HTML never shuffles — only
  *    the (src, dst, anchor) projection enters the plan;
  *  - the host graph is a groupBy on (src_site, dst_site): the shuffle
  *    carries two short site keys per edge, and the eTLD+1/host keys are
  *    computed by codegen'd native expressions ([[UrlExprs]]) inside the
  *    scan projection;
  *  - PageRank state is one row per SITE (orders of magnitude below the
  *    page count); each iteration is a shuffled equi-join (ranks ⋈
  *    edges) plus a groupBy on dst — the standard distributed shape —
  *    with per-iteration localCheckpoints truncating lineage exactly as
  *    [[DedupJobs.connectedComponents]] does. Dangling mass is folded in
  *    via a broadcast one-row aggregate, so an iteration is one
  *    materialization, not a driver round trip per step.
  */
object GraphJobs {

  /** Deterministic page URL for a corpus doc (same `{source}-site.com`
    * host family as the q_url_* queries, so site keys compose). */
  def pageUrlFor(source: String, lang: String, docId: Long): String =
    s"https://www.$source-site.com/$lang/d$docId.html"

  /** Deterministic synthetic page with a known link structure — the
    * graph analogue of [[HtmlJob.chromePage]]: every href below is
    * restatable in the DuckDB oracle, while the Spark side runs the real
    * scanner + resolver + canonicalizer end-to-end. Exercises: a
    * RELATIVE `<base href>`, absolute-path and relative refs,
    * dot-segment merges, an entity-encoded query, an absolute ref in
    * shouting case with a default port and a tracking param, a
    * protocol-relative ref, rel=nofollow, non-fetchable schemes
    * (mailto:, javascript:), a fragment-only ref, and a decoy anchor
    * inside `<script>` that a naive regex scan would extract. */
  def linkedPage(docId: Long, source: String, lang: String, text: String): String = {
    val k = (docId % 3).toInt
    val partnerAnchor = if (docId % 2 == 0) s"Visit partner $k" else s"Partner $k"
    val escaped = HtmlJob.escapeHtml(if (text == null) "" else text)
    new java.lang.StringBuilder(escaped.length + 1024)
      .append("<!DOCTYPE html>\n<html><head><title>Graft Portal</title>\n")
      .append("<base href=\"sub/\">\n")
      .append("<script>var fake=\"<a href='/fake'>x</a>\";</script></head>\n")
      .append("<body>\n<nav><a href=\"/home\">Home</a> ")
      .append("<a href=\"about.html\">About us</a></nav>\n")
      .append("<article><h1>Doc ").append(docId).append("</h1>\n")
      .append("<p>").append(escaped).append("</p>\n")
      .append("<p><a href=\"../up/./page?b=2&amp;a=1#s\">Up page</a>\n")
      .append("<a href=\"HTTPS://CDN.").append(source)
      .append("-site.CO.UK:443/a/../").append(lang)
      .append("/?utm_source=x&amp;q=1\">Mirror</a>\n")
      .append("<a href=\"//partner-").append(k).append(".example/x/\">")
      .append(partnerAnchor).append("</a>\n")
      .append("<a rel=\"sponsored NOFOLLOW\" href=\"https://ads.")
      .append(source).append("-net.com/click?id=").append(docId)
      .append("\">Sponsored</a>\n")
      .append("<a href=\"mailto:ed@").append(source).append("-site.com\">Mail</a>\n")
      .append("<a href=\"javascript:void(0)\">JS</a>\n")
      .append("<a href=\"#top\">Top</a></p>\n")
      .append("</article></body></html>\n")
      .toString
  }

  /** documents table → synthetic linked pages (deterministic, no RNG). */
  def wrapCorpusLinked(spark: SparkSession, documents: DataFrame): Dataset[PageDoc] = {
    import spark.implicits._
    documents
      .select(col("doc_id").cast("long"), col("source"), col("lang"),
        coalesce(col("text"), lit("")))
      .as[(Long, String, String, String)]
      .map { case (id, source, lang, text) =>
        PageDoc(id, pageUrlFor(source, lang, id), linkedPage(id, source, lang, text))
      }
  }

  /** Outlink extraction: one narrow `mapPartitions` over (doc_id, url,
    * html). Per page: scan anchors, resolve the page's effective base
    * (`<base href>` is itself resolved against the fetch URL, per HTML),
    * resolve each href per RFC 3986 §5.2, keep http/https targets, and
    * canonicalize them into crawl keys. Raw HTML dies in this stage. */
  def extractLinks(spark: SparkSession, pages: Dataset[PageDoc]): Dataset[DocLink] = {
    import spark.implicits._
    ScanParallelism.ensure(pages.toDF()).as[PageDoc].mapPartitions(_.flatMap { p =>
      val (baseOpt, raws) = LinkExtract.scan(p.html)
      val effBase = baseOpt
        .flatMap(b => Option(UrlOps.resolve(p.url, b)))
        .getOrElse(p.url)
      val out = Vector.newBuilder[DocLink]
      var pos = 0
      raws.foreach { l =>
        val abs = UrlOps.resolve(effBase, l.href)
        if (abs != null && (abs.startsWith("http://") || abs.startsWith("https://"))) {
          out += DocLink(p.doc_id, p.url, pos, UrlOps.canonicalize(abs), l.text, l.nofollow)
          pos += 1
        }
      }
      out.result()
    })
  }

  /** Host-level graph: follow links only (rel=nofollow excluded — the
    * convention link-graph builders have honored since 2005), self-site
    * edges dropped, weight = link count. The site keys come from the
    * codegen'd `url_host`/`url_registrable_domain` expressions, so the
    * projection runs in whole-stage codegen and the shuffle carries only
    * two short keys per edge. */
  def hostGraph(links: DataFrame): DataFrame = {
    import UrlExprs.{url_host, url_registrable_domain}
    links
      .filter(!col("nofollow"))
      .select(
        url_registrable_domain(url_host(col("src_url"))).as("src_site"),
        url_registrable_domain(url_host(col("dst_url"))).as("dst_site"))
      .filter(col("src_site").isNotNull && col("dst_site").isNotNull &&
        col("src_site") =!= col("dst_site"))
      .groupBy(col("src_site"), col("dst_site"))
      .agg(count(lit(1)).as("weight"))
  }

  /** Weighted PageRank over a (src, dst, weight) edge table.
    *
    * Semantics (Brin & Page 1998, the probability-distribution form):
    * ranks start uniform at 1/N; each iteration every node's rank is
    * `(1-d)/N + d * (Σ_in rank(u)·w(u,v)/out_w(u) + danglingMass/N)`
    * where danglingMass is the total rank sitting on nodes with no
    * out-edges — redistributed uniformly, keeping Σrank = 1 every
    * iteration (a property [[graft.GraphSpec]] pins).
    *
    * Distributed shape: rank state is one row per node; an iteration is
    * one equi-join (edges ⋈ ranks on src) + one groupBy(dst) + a
    * broadcast one-row dangling aggregate, cut once per iteration
    * ([[Materialize.cut]]; lineage truncation — same pattern as
    * connectedComponents). The fixed iteration count is the published
    * practical choice for web graphs (convergence to ranking stability
    * in tens of iterations; callers pick). */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double,
               driverEdgeLimit: Long = 500000L): DataFrame = {
    // Materialize the edge table ONCE: every downstream consumer (node
    // set, out-weights, dangling set) previously re-executed the full
    // incoming lineage (link extraction → host aggregation) per reference.
    // Its cut observes the edge count the size dispatch reads.
    val (e, nEdges) = Materialize.counted(
      edges.select(col("src"), col("dst"), col("weight").cast("double").as("w")))
    // SIZE DISPATCH (the [[DedupJobs.connectedComponents]] discipline):
    // host-level graphs are orders of magnitude below page counts; when
    // the edge table fits the bounded-driver-work budget, the iteration
    // runs driver-local — zero barrier jobs per step instead of a
    // join + aggregate + checkpoint round trip over tiny tables. Ranks
    // agree with the distributed loop to FP-summation noise (the reason
    // callers report ppm-rounded ranks); the differential is pinned in
    // GraphSpec. Pass 0 to force the distributed path.
    if (driverEdgeLimit > 0 &&
        e.schema("src").dataType == org.apache.spark.sql.types.StringType &&
        e.schema("dst").dataType == org.apache.spark.sql.types.StringType &&
        nEdges <= driverEdgeLimit)
      return pageRankDriverLocal(e, iterations, damping)
    val (nodes, nNodes) = Materialize.counted(e.select(col("src").as("site"))
      .union(e.select(col("dst").as("site")))
      .distinct())
    val n = nNodes.toDouble
    require(n > 0, "pageRank: empty graph")
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("out_w"))
    // per-edge share of its source's rank; static across iterations
    val shares = Materialize.cut(e.join(outW, "src")
      .select(col("src"), col("dst"), (col("w") / col("out_w")).as("share")))
    val dangling = nodes.join(outW.select(col("src").as("site")), Seq("site"), "left_anti")
      .transform(Materialize.cut)
    var ranks = nodes.select(col("site"), lit(1.0 / n).as("rank")).transform(Materialize.cut)
    var i = 0
    while (i < iterations) {
      val danglingMass = ranks.join(dangling, Seq("site"), "left_semi")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
      val contrib = shares.join(ranks.withColumnRenamed("site", "src"), Seq("src"))
        .groupBy(col("dst").as("site"))
        .agg(sum(col("share") * col("rank")).as("c"))
      // each round's cut frees the previous round's
      val next = Materialize.cut(nodes.join(contrib, Seq("site"), "left")
        .crossJoin(broadcast(danglingMass))
        .select(col("site"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("c"), lit(0.0)) + col("dm") / n)).as("rank")))
      Materialize.free(ranks)
      ranks = next
      i += 1
    }
    ranks
  }

  /** Driver-local PageRank over a collected (src, dst, w) edge table: the
    * identical damped iteration with dangling-mass redistribution, run in
    * plain arrays with a DETERMINISTIC (sorted) summation order. Returns
    * the same (site, rank) schema as the distributed loop. */
  private def pageRankDriverLocal(e: DataFrame, iterations: Int,
                                  damping: Double): DataFrame = {
    val spark = e.sparkSession
    val rows = e.collect()
    val siteSet = scala.collection.mutable.TreeSet.empty[String]
    rows.foreach { r => siteSet += r.getString(0); siteSet += r.getString(1) }
    val sites = siteSet.toArray // sorted: deterministic iteration order
    val n = sites.length
    require(n > 0, "pageRank: empty graph")
    val idx = sites.zipWithIndex.toMap
    // per-edge share of its source's rank (static across iterations)
    val srcI = new Array[Int](rows.length)
    val dstI = new Array[Int](rows.length)
    val w = new Array[Double](rows.length)
    val outW = new Array[Double](n)
    // sorted edge order so out-weight and contribution sums are stable
    val order = rows.indices.sortBy(i => (rows(i).getString(0), rows(i).getString(1)))
    var j = 0
    while (j < order.length) {
      val r = rows(order(j))
      srcI(j) = idx(r.getString(0)); dstI(j) = idx(r.getString(1))
      w(j) = r.getDouble(2); outW(srcI(j)) += w(j)
      j += 1
    }
    val share = Array.tabulate(order.length)(j => w(j) / outW(srcI(j)))
    var rank = Array.fill(n)(1.0 / n)
    var it = 0
    while (it < iterations) {
      var dm = 0.0
      var v = 0
      while (v < n) { if (outW(v) == 0.0) dm += rank(v); v += 1 }
      val contrib = new Array[Double](n)
      j = 0
      while (j < order.length) {
        contrib(dstI(j)) += share(j) * rank(srcI(j)); j += 1
      }
      val next = new Array[Double](n)
      v = 0
      while (v < n) {
        next(v) = (1.0 - damping) / n + damping * (contrib(v) + dm / n)
        v += 1
      }
      rank = next
      it += 1
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("site",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        sites.indices.map(v =>
          org.apache.spark.sql.Row(sites(v), rank(v))).toSeq, 1), schema)
  }

  /** Anchor-text aggregation: the top-k anchor strings pointing at each
    * destination site (count desc, text asc — deterministic). The
    * anchor corpus is both a retrieval signal and a training-data
    * surface; per-group top-k is a window over the (site, anchor)
    * count table, which is already site-partitioned by the groupBy. */
  def anchorTopK(links: DataFrame, k: Int): DataFrame = {
    import UrlExprs.{url_host, url_registrable_domain}
    val counted = links
      .select(url_registrable_domain(url_host(col("dst_url"))).as("dst_site"),
        col("anchor"))
      .filter(col("dst_site").isNotNull && col("anchor") =!= "")
      .groupBy(col("dst_site"), col("anchor"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("dst_site"))
      .orderBy(col("n").desc, col("anchor").asc)
    counted.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }
}
