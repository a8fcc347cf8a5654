package graft.extract

import scala.collection.mutable

import graft.text.Markup

/** HTML main-content extraction — the north-rule's "HTML boilerplate
  * stripping (text-density/link-density DOM heuristics a la Readability /
  * boilerplate classification)" component, built from scratch on public
  * knowledge:
  *
  *   - block classification is the published `NumWordsRulesClassifier`
  *     decision tree from Kohlschuetter, Fankhauser, Nejdl, "Boilerplate
  *     Detection using Shallow Text Features" (WSDM 2010) — per-block word
  *     count + link density with one block of context either side;
  *   - negative-container pruning (`nav`/`aside`/`header`/`footer`/`form`)
  *     is the Readability-style structural prior;
  *   - headings adjacent to content are promoted (Readability's title
  *     retention).
  *
  * The reference repo has no HTML path (it is PDF-only; its analogue of
  * boilerplate stripping is the margin-index cleaner, `/root/reference/src/
  * extractor.py:146-235` → [[Cleaners]]); this component exists because the
  * north rule makes HTML stripping a first-class part of the engine.
  *
  * Everything here is pure Scala over a `String` — no parser library; the
  * markup is read by the engine's one lexer, [[graft.text.Markup]], which
  * is total on every malformation a crawl corpus holds (unclosed tags,
  * attributes containing `>`, comments, CDATA, raw-text elements,
  * malformed entities).
  */
object HtmlContent {

  /** One tokenized event: either a text block or a media reference. */
  sealed trait Ev
  /** A flushed text block. `text` is whitespace-normalized; `words` its
    * space-split word count; `linkDensity` = anchor-words / words;
    * `negative` = inside nav/aside/header/footer/form; `heading` = h1-h6. */
  final case class TextBlock(
      text: String, words: Int, linkDensity: Double,
      negative: Boolean, heading: Boolean) extends Ev
  /** A media element (`img`/`video`/`audio`/`source`/`embed`/`iframe`)
    * with a non-empty `src`. */
  final case class MediaRef(ref: String, negative: Boolean) extends Ev

  /** Elements whose open OR close tag terminates the current text block. */
  private val blockTags: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "table", "thead", "tbody", "tr", "td", "th", "blockquote", "pre",
    "article", "section", "header", "footer", "nav", "aside", "form",
    "main", "figure", "figcaption", "dl", "dt", "dd", "br", "hr",
    "body", "html", "head")

  /** Structural boilerplate containers (Readability negative classes). */
  private val negativeTags: Set[String] =
    Set("nav", "aside", "header", "footer", "form")

  private val headingTags: Set[String] =
    Set("h1", "h2", "h3", "h4", "h5", "h6")

  /** Media elements and the attribute that carries the reference. */
  private val mediaTags: Set[String] =
    Set("img", "video", "audio", "source", "embed", "iframe")

  // ------------------------------------------------------------- tokenizer

  /** Single-pass tokenize + block segmentation over [[Markup]]. Never throws. */
  def tokenize(html: String): Vector[Ev] = {
    if (html == null || html.isEmpty) return Vector.empty
    val out = Vector.newBuilder[Ev]
    val text = new java.lang.StringBuilder   // raw block text (entities decoded)
    val anchorText = new java.lang.StringBuilder
    var negDepth = 0
    var anchorDepth = 0
    var headingDepth = 0

    def flush(): Unit = {
      val t = normalizeWs(text.toString)
      if (t.nonEmpty) {
        val w = countWords(t)
        val aw = countWords(normalizeWs(anchorText.toString))
        val ld = if (w == 0) 0.0 else math.min(1.0, aw.toDouble / w)
        out += TextBlock(t, w, ld, negDepth > 0, headingDepth > 0)
      }
      text.setLength(0)
      anchorText.setLength(0)
    }

    val m = Markup.html(html, "src")
    var ev = m.next()
    while (ev != Markup.End) {
      if (ev == Markup.Text) {
        text.append(m.text)
        if (anchorDepth > 0) anchorText.append(m.text)
      } else {
        val closing = ev == Markup.Close
        val name = m.name.toLowerCase(java.util.Locale.ROOT)
        if (mediaTags.contains(name) && !closing) {
          val src = m.attr(0)
          if (src != null && src.nonEmpty) {
            flush()
            out += MediaRef(src, negDepth > 0)
          }
        } else {
          // HTML5 ignores `/>` on non-void elements, and no tag with a
          // depth here is void: `<a href=x/>` opens an anchor
          if (blockTags.contains(name)) flush()
          if (negativeTags.contains(name)) {
            if (closing) negDepth = math.max(0, negDepth - 1)
            else negDepth += 1
          }
          if (headingTags.contains(name)) {
            if (closing) headingDepth = math.max(0, headingDepth - 1)
            else headingDepth += 1
          }
          if (name == "a") {
            // word-separate adjacent anchors so anchor word counts sum
            // per anchor (boilerpipe counts tokens per <a>, not the
            // concatenation: "<a>x</a><a>y</a>" is 2 anchor words)
            anchorText.append(' ')
            if (closing) anchorDepth = math.max(0, anchorDepth - 1)
            else anchorDepth += 1
          }
        }
      }
      ev = m.next()
    }
    flush()
    out.result()
  }

  /** ASCII whitespace only — the regex `\s` class, matching both the
    * DuckDB oracle's `regexp_replace(text, '\s+', ' ')` and every other
    * normalization in the repo (PageLayout.isAsciiWs, q_token_count's
    * ws_tokens). Unicode spaces (U+2028, U+3000) and the C0 separators
    * U+001C-001F are deliberately NOT whitespace here, so Spark and
    * oracle agree on all inputs, not just ASCII testdata. */
  private def isAsciiWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private[graft] def normalizeWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var pendingSpace = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isAsciiWs(c)) pendingSpace = true
      else {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        pendingSpace = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private def countWords(normalized: String): Int =
    if (normalized.isEmpty) 0
    else {
      var c = 1
      var i = 0
      while (i < normalized.length) {
        if (normalized.charAt(i) == ' ') c += 1
        i += 1
      }
      c
    }

  // ----------------------------------------------------------- classifier

  /** The WSDM-2010 NumWordsRulesClassifier decision tree, verbatim:
    * inputs are the current block's word count and link density, the
    * previous block's word count and link density, and the next block's
    * word count. Returns true = content. */
  def numWordsRules(
      prevWords: Int, prevLinkDensity: Double,
      currWords: Int, currLinkDensity: Double,
      nextWords: Int): Boolean = {
    if (currLinkDensity > 0.333333) false
    else if (prevLinkDensity <= 0.555556) {
      if (currWords <= 16) {
        if (nextWords <= 15) prevWords > 4
        else true
      } else true
    } else {
      if (currWords <= 40) nextWords > 17
      else true
    }
  }

  /** Classify every text block in `evs`: the shallow-features tree over the
    * full block chain, then two structural overrides — negative-container
    * blocks are always boilerplate, and a heading immediately before a
    * content block is promoted to content. Returns a parallel Vector of
    * content flags for the TextBlock events (media events get no flag). */
  def classify(evs: Vector[Ev]): Vector[Boolean] = {
    val blocks = evs.collect { case tb: TextBlock => tb }
    val m = blocks.length
    val flags = new mutable.ArrayBuffer[Boolean](m)
    var bi = 0
    while (bi < m) {
      val prev = if (bi > 0) blocks(bi - 1) else null
      val next = if (bi + 1 < m) blocks(bi + 1) else null
      val curr = blocks(bi)
      val base = numWordsRules(
        if (prev == null) 0 else prev.words,
        if (prev == null) 0.0 else prev.linkDensity,
        curr.words, curr.linkDensity,
        if (next == null) 0 else next.words)
      flags += (base && !curr.negative)
      bi += 1
    }
    // heading promotion: a non-negative heading whose immediate successor
    // block is content is kept (Readability title retention)
    bi = 0
    while (bi < m - 1) {
      if (!flags(bi) && blocks(bi).heading && !blocks(bi).negative && flags(bi + 1))
        flags(bi) = true
      bi += 1
    }
    flags.toVector
  }

  // -------------------------------------------------------------- extract

  /** Full extraction: tokenize, classify, emit the ordered span sequence —
    * content text blocks as `kind="text"` spans, media references outside
    * negative containers as `kind="media"` spans, `offset` = emission
    * index. The north-rule output contract ([[graft.model.Span]]). */
  def extract(html: String): Seq[graft.model.Span] = {
    val evs = tokenize(html)
    val flags = classify(evs)
    val out = Seq.newBuilder[graft.model.Span]
    var off = 0
    var bi = 0
    evs.foreach {
      case tb: TextBlock =>
        if (flags(bi)) {
          out += graft.model.Span("text", tb.text, "", off)
          off += 1
        }
        bi += 1
      case MediaRef(ref, neg) =>
        if (!neg) {
          out += graft.model.Span("media", "", ref, off)
          off += 1
        }
    }
    out.result()
  }
}
