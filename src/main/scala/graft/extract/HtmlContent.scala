package graft.extract

import scala.collection.mutable

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
  * Everything here is pure Scala over a `String` — no parser library (the
  * container has none, and a hand-rolled single-pass tokenizer keeps the
  * whole extraction inside one `mapPartitions` pass with zero allocation
  * beyond the block buffers). The tokenizer is deliberately forgiving:
  * unclosed tags, attributes containing `>`, comments, CDATA, raw-text
  * elements and malformed entities must never throw — a 10^12-document
  * crawl corpus contains every possible malformation.
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

  /** Raw-text / non-content elements: skip to the matching close tag. */
  private val rawTextTags: Set[String] =
    Set("script", "style", "textarea", "title", "noscript", "svg")

  private val headingTags: Set[String] =
    Set("h1", "h2", "h3", "h4", "h5", "h6")

  /** Media elements and the attribute that carries the reference. */
  private val mediaTags: Set[String] =
    Set("img", "video", "audio", "source", "embed", "iframe")

  // ------------------------------------------------------------- tokenizer

  /** Single-pass tokenize + block segmentation. Never throws. */
  def tokenize(html: String): Vector[Ev] = {
    if (html == null || html.isEmpty) return Vector.empty
    val out = Vector.newBuilder[Ev]
    val n = html.length
    var i = 0

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

    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (html.startsWith("<![CDATA[", i)) {
          val e = html.indexOf("]]>", i + 9)
          // CDATA payload is character data in XML-ish documents.
          val end = if (e < 0) n else e
          text.append(html, i + 9, end)
          if (anchorDepth > 0) anchorText.append(html, i + 9, end)
          i = if (e < 0) n else e + 3
        } else if (i + 1 < n && (html.charAt(i + 1) == '!' || html.charAt(i + 1) == '?')) {
          // doctype / processing instruction
          val e = html.indexOf('>', i)
          i = if (e < 0) n else e + 1
        } else if (i + 1 < n && (isNameStart(html.charAt(i + 1)) || html.charAt(i + 1) == '/')) {
          val closing = html.charAt(i + 1) == '/'
          val nameStart = if (closing) i + 2 else i + 1
          var j = nameStart
          while (j < n && isNameChar(html.charAt(j))) j += 1
          val name = html.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
          // scan attributes to the tag end, honoring quotes
          var srcVal: String = null
          var selfClose = false
          var k = j
          while (k < n && html.charAt(k) != '>') {
            val ch = html.charAt(k)
            if (ch == '"' || ch == '\'') {
              val q = html.indexOf(ch, k + 1)
              k = if (q < 0) n else q + 1
            } else if (!closing && (ch == 's' || ch == 'S') &&
                html.regionMatches(true, k, "src", 0, 3) &&
                (k == j || !isNameChar(html.charAt(k - 1)))) {
              // parse src=... value
              var m = k + 3
              while (m < n && Character.isWhitespace(html.charAt(m))) m += 1
              if (m < n && html.charAt(m) == '=') {
                m += 1
                while (m < n && Character.isWhitespace(html.charAt(m))) m += 1
                if (m < n && (html.charAt(m) == '"' || html.charAt(m) == '\'')) {
                  val q = html.indexOf(html.charAt(m), m + 1)
                  if (q > m) { srcVal = html.substring(m + 1, q); k = q + 1 }
                  else k = n
                } else {
                  // HTML5 unquoted attribute value: runs to whitespace or
                  // '>'; '/' is part of the value (as in LinkExtract.scan)
                  var e2 = m
                  while (e2 < n && !Character.isWhitespace(html.charAt(e2)) &&
                    html.charAt(e2) != '>') e2 += 1
                  srcVal = html.substring(m, e2)
                  k = e2
                }
              } else k += 1
            } else {
              if (ch == '/' && k + 1 < n && html.charAt(k + 1) == '>') selfClose = true
              k += 1
            }
          }
          i = if (k < n) k + 1 else n

          if (name.isEmpty) {
            // "<" followed by junk the name scan rejected; already skipped
          } else if (!closing && rawTextTags.contains(name) && !selfClose) {
            // skip raw content to the matching close tag, case-insensitive
            val closeTag = "</" + name
            var e = i
            var found = -1
            while (found < 0 && e <= n - closeTag.length) {
              if (html.regionMatches(true, e, closeTag, 0, closeTag.length)) found = e
              else e += 1
            }
            if (found < 0) i = n
            else {
              val gt = html.indexOf('>', found)
              i = if (gt < 0) n else gt + 1
            }
          } else if (mediaTags.contains(name) && !closing) {
            if (srcVal != null && srcVal.nonEmpty) {
              flush()
              out += MediaRef(srcVal, negDepth > 0)
            }
          } else {
            if (blockTags.contains(name)) flush()
            if (negativeTags.contains(name)) {
              if (closing) negDepth = math.max(0, negDepth - 1)
              else if (!selfClose) negDepth += 1
            }
            if (headingTags.contains(name)) {
              if (closing) headingDepth = math.max(0, headingDepth - 1)
              else if (!selfClose) headingDepth += 1
            }
            if (name == "a") {
              // word-separate adjacent anchors so anchor word counts sum
              // per anchor (boilerpipe counts tokens per <a>, not the
              // concatenation: "<a>x</a><a>y</a>" is 2 anchor words)
              anchorText.append(' ')
              if (closing) anchorDepth = math.max(0, anchorDepth - 1)
              else if (!selfClose) anchorDepth += 1
            }
          }
        } else {
          // lone '<' that is not a tag — literal text
          text.append('<')
          if (anchorDepth > 0) anchorText.append('<')
          i += 1
        }
      } else if (c == '&') {
        val (decoded, next) = decodeEntity(html, i)
        text.append(decoded)
        if (anchorDepth > 0) anchorText.append(decoded)
        i = next
      } else {
        text.append(c)
        if (anchorDepth > 0) anchorText.append(c)
        i += 1
      }
    }
    flush()
    out.result()
  }

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == ':'

  /** Decode one entity starting at `html(i) == '&'`; returns (text, nextIndex).
    * Unknown or unterminated entities pass through literally. */
  private[graft] def decodeEntity(html: String, i: Int): (String, Int) = {
    val n = html.length
    val semi = html.indexOf(';', i + 1)
    if (semi < 0 || semi - i > 10) return ("&", i + 1)
    val body = html.substring(i + 1, semi)
    val decoded: String = body match {
      case "amp" => "&"
      case "lt" => "<"
      case "gt" => ">"
      case "quot" => "\""
      case "apos" => "'"
      case "nbsp" => " "
      case _ if body.startsWith("#x") || body.startsWith("#X") =>
        try {
          val cp = Integer.parseInt(body.substring(2), 16)
          if (Character.isValidCodePoint(cp)) new String(Character.toChars(cp)) else null
        } catch { case _: Exception => null }
      case _ if body.startsWith("#") =>
        try {
          val cp = Integer.parseInt(body.substring(1))
          if (Character.isValidCodePoint(cp)) new String(Character.toChars(cp)) else null
        } catch { case _: Exception => null }
      case _ => null
    }
    if (decoded == null) ("&", i + 1) else (decoded, semi + 1)
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
