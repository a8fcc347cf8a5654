package graft.extract

import graft.text.Markup

/** Hyperlink extraction from untrusted HTML — the crawl-pipeline step
  * that turns fetched pages into the web link graph (outlink discovery,
  * anchor-text corpus, host-graph edges for link analysis).
  *
  * The markup is read by [[graft.text.Markup]], the lexer
  * [[HtmlContent.tokenize]] also runs on: a single forward pass, no
  * regex, raw-text elements (`script`/`style`/…) skipped wholesale, and
  * total on garbage — a truncated or malformed page yields the links
  * scanned so far, never a throw. Per the HTML parsing spec, `<a>`
  * elements do not nest: an open `<a>` implicitly closes a still-open one
  * (browsers' adoption-agency behavior for the common malformed case), so
  * every href maps to the anchor text up to the next boundary.
  *
  * What is captured per anchor:
  *  - `href` — the raw attribute value, entity-decoded (attribute values
  *    are character data: `&amp;` inside an href is a literal `&`);
  *  - `text` — whitespace-normalized character data inside the anchor
  *    (nested inline markup contributes its text; block boundaries do
  *    not end an anchor, matching browsers);
  *  - `nofollow` — true when the `rel` attribute's space-separated token
  *    list contains `nofollow` case-insensitively (the 2005 rel-nofollow
  *    convention link-graph builders honor).
  *
  * The document's `<base href>` (first one wins, per HTML) is returned
  * alongside so the caller can resolve relative references per RFC 3986
  * §5 ([[graft.pipeline.UrlOps.resolve]]).
  */
object LinkExtract {

  /** One extracted anchor. `href` is raw (entity-decoded, unresolved). */
  final case class RawLink(href: String, text: String, nofollow: Boolean)

  /** Scan `html` once; returns (baseHref, anchors in document order).
    * `baseHref` is None when the page has no usable `<base href>`. */
  def scan(html: String): (Option[String], Vector[RawLink]) = {
    if (html == null || html.isEmpty) return (None, Vector.empty)
    val out = Vector.newBuilder[RawLink]
    var base: Option[String] = None

    // open-anchor state
    var href: String = null
    var nofollow = false
    val text = new java.lang.StringBuilder

    def closeAnchor(): Unit = {
      if (href != null) {
        out += RawLink(href, HtmlContent.normalizeWs(text.toString), nofollow)
        href = null
      }
      nofollow = false
      text.setLength(0)
    }

    val m = Markup.html(html, "href", "rel")
    var ev = m.next()
    while (ev != Markup.End) {
      if (ev == Markup.Text) {
        if (href != null) text.append(m.text)
      } else {
        val name = m.name.toLowerCase(java.util.Locale.ROOT)
        val aHref = m.attr(0)
        if (name == "a") {
          if (ev == Markup.Close) closeAnchor()
          else {
            closeAnchor() // implicit close: <a> does not nest
            // HTML5 ignores the self-closing flag on non-void elements:
            // <a href=x/> opens an anchor exactly like <a href=x>
            if (aHref != null && aHref.nonEmpty) {
              href = aHref
              nofollow = m.attr(1) != null && relHasNofollow(m.attr(1))
            }
          }
        } else if (name == "base" && ev == Markup.Open && base.isEmpty &&
          aHref != null && aHref.nonEmpty) {
          base = Some(aHref.trim)
        }
      }
      ev = m.next()
    }
    closeAnchor()
    (base, out.result())
  }

  private def relHasNofollow(rel: String): Boolean =
    rel.split("[ \t\r\n\f]+").exists(_.equalsIgnoreCase("nofollow"))
}
