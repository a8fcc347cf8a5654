package graft.pipeline

import graft.text.Markup

/** Web-feed and sitemap parsing — RSS 2.0 (RSS Advisory Board spec),
  * Atom (RFC 4287), and XML sitemaps (sitemaps.org protocol) — the
  * crawl-frontier surface of a web-scale pipeline: feeds and sitemaps
  * are how a crawler discovers the URLs the rest of this engine
  * ingests (same family as [[UrlOps]] / [[RobotsOps]] / [[WarcIO]]).
  *
  * One pass over the [[graft.text.Markup]] lexer covers all three: track
  * the enclosing entry container (`item` / `entry` / `url`) and capture
  * the character data of the per-format field elements (entities
  * decoded, CDATA sections literal). Atom links are an `href` attribute
  * on a self-closed element — the one attribute read. Namespace prefixes
  * on element names are stripped (RFC 4287 feeds commonly arrive as
  * `<atom:feed>`); names compare case-sensitively (`pubDate`). No XML
  * library, no DOM; bounded and total (malformed input → null/partial,
  * never a thrown task — the [[MediaJob]] discipline).
  *
  * Shape at 100 TB: per-row scan-stage kernels surfaced as the
  * codegen'd expressions `feed_kind` / `feed_entries`
  * ([[graft.plans.FeedExprs]]); feed bytes never shuffle — explode the
  * (small) parsed entry array, not the document. */
object FeedText {

  /** One discovered entry: `title` (null for sitemaps), `link`, and the
    * format's timestamp string (`pubDate` / `updated` / `lastmod`). */
  final case class Entry(title: String, link: String, ts: String)

  /** Root-element sniff: `rss | atom | sitemap | null`. */
  def kind(xml: String): String = {
    val m = Markup.xml(xml)
    var ev = m.next()
    while (ev == Markup.Text) ev = m.next()
    if (ev != Markup.Open) null
    else localName(m.name) match {
      case "rss" => "rss"
      case "feed" => "atom"
      case "urlset" | "sitemapindex" => "sitemap"
      case _ => null
    }
  }

  /** All entries of a recognized feed, document order; null when the
    * root element is not a feed. Truncated documents yield the entries
    * completed before the truncation point. */
  def entries(xml: String): Array[Entry] = {
    val k = kind(xml)
    if (k == null) return null
    val (container, titleEl, linkEl, tsEl) = k match {
      case "rss" => ("item", "title", "link", "pubDate")
      case "atom" => ("entry", "title", "link", "updated")
      case _ => ("url", null, "loc", "lastmod")
    }
    val out = Vector.newBuilder[Entry]
    var inEntry = false
    var field: String = null // which field element we're capturing
    var title: String = null; var link: String = null; var ts: String = null
    val sb = new java.lang.StringBuilder()
    val m = Markup.xml(xml, "href")
    var ev = m.next()
    while (ev != Markup.End) {
      if (ev == Markup.Text) {
        if (field != null) sb.append(m.text)
      } else {
        val tag = localName(m.name)
        if (ev == Markup.Close) {
          if (tag == container && inEntry) {
            out += Entry(title, link, ts)
            inEntry = false; title = null; link = null; ts = null
          } else if (inEntry && field != null && tag == field) {
            val v = sb.toString
            if (field == titleEl) title = v
            else if (field == linkEl) link = v
            else ts = v
            field = null; sb.setLength(0)
          }
        } else if (tag == container && !inEntry) {
          inEntry = true; title = null; link = null; ts = null
        } else if (inEntry) {
          // Atom <link href="..."/> — attribute, not char data
          if (k == "atom" && tag == linkEl) {
            if (m.attr(0) != null) link = m.attr(0)
          } else if (!m.selfClosing &&
              (tag == titleEl || tag == linkEl || tag == tsEl)) {
            field = tag; sb.setLength(0)
          }
        }
      }
      ev = m.next()
    }
    out.result().toArray
  }

  /** Element name with any namespace prefix stripped. */
  private def localName(name: String): String =
    name.substring(name.indexOf(':') + 1)

  // ------------------------------------------------------------- encoders

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** Minimal RSS 2.0; titles wrapped in CDATA (the common wild form). */
  def encodeRss(entries: Seq[Entry]): String = {
    val items = entries.map { e =>
      s"<item><title><![CDATA[${e.title}]]></title><link>${esc(e.link)}</link>" +
        s"<pubDate>${esc(e.ts)}</pubDate></item>"
    }.mkString
    "<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>" +
      "<title>feed</title>" + items + "</channel></rss>"
  }

  /** Minimal RFC 4287 Atom; titles entity-escaped, links as href. */
  def encodeAtom(entries: Seq[Entry]): String = {
    val items = entries.map { e =>
      s"<entry><title>${esc(e.title)}</title><link href=\"${esc(e.link)}\"/>" +
        s"<updated>${esc(e.ts)}</updated></entry>"
    }.mkString
    "<?xml version=\"1.0\"?><feed xmlns=\"http://www.w3.org/2005/Atom\">" +
      "<title>feed</title>" + items + "</feed>"
  }

  /** Test/bench synthesis: one feed per doc by a doc_id % 3 rule
    * (rss | atom | sitemap), three entries each; titles exercise XML
    * entities (RSS routes them through CDATA, Atom through escapes). */
  def wrapCorpus(spark: org.apache.spark.sql.SparkSession,
                 docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      val es = (0 to 2).map(k =>
        Entry(s"doc & <$id #$k", s"https://ex.com/$id/$k", s"2026-01-0${k + 1}"))
      val xml = (id % 3) match {
        case 0 => encodeRss(es)
        case 1 => encodeAtom(es)
        case _ => encodeSitemap(es)
      }
      (id, xml)
    }.toDF("doc_id", "xml")
  }

  /** Minimal sitemaps.org urlset (no titles in the protocol). */
  def encodeSitemap(entries: Seq[Entry]): String = {
    val urls = entries.map { e =>
      s"<url><loc>${esc(e.link)}</loc><lastmod>${esc(e.ts)}</lastmod></url>"
    }.mkString
    "<?xml version=\"1.0\"?>" +
      "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
      urls + "</urlset>"
  }
}
