package graft.text

/** The one lexer for the engine's untrusted markup: HTML pages
  * ([[graft.extract.HtmlContent]], [[graft.extract.LinkExtract]]), web
  * feeds ([[graft.pipeline.FeedText]]) and office XML parts
  * ([[graft.pipeline.OfficeText]]). It turns a string into a flat stream
  * of character data, open tags and close tags; what an element means is
  * left to the caller.
  *
  * A cursor: `next()` advances to the next event and returns its kind
  * ([[Markup.Text]], [[Markup.Open]], [[Markup.Close]], or [[Markup.End]]
  * once the input is used up). A `Text` event's characters are in `text`
  * (a run may arrive as several events); a tag's name is in `name`, as
  * written, its `/>` flag in `selfClosing`, and the value of the i-th
  * attribute the caller named at construction in `attr(i)` (null when
  * absent). No map is built per tag: only the named attributes are read.
  *
  * States, from `<` at the cursor:
  *  - `<!--` … `-->`: comment, skipped (to the end of input when open);
  *  - `<![CDATA[` … `]]>`: emitted as literal `Text` — no entity decoding
  *    (an open section runs to the end of input);
  *  - `<!` or `<?` otherwise: doctype / processing instruction / bogus
  *    comment, skipped to the next `>`;
  *  - `</` or `<` + ASCII letter: a tag. Its name is the run of
  *    `[A-Za-z0-9:-]` after the `<` or `</`; then come the HTML5
  *    before-attribute-name / attribute-name / attribute-value states: a
  *    name runs to whitespace, `=`, `/` or `>`;
  *    a quoted value runs to its closing quote (a `>` inside it does not
  *    end the tag); an unquoted value runs to whitespace or `>`, so a `/`
  *    inside it is part of the value; a `/` directly before `>` outside a
  *    value sets `selfClosing`. The first of two same-named attributes
  *    with a value wins; values are entity-decoded. A tag whose `>` the
  *    end of input cuts off is not emitted (HTML5 eof-in-tag), and neither
  *    is `</` without a name;
  *  - any other `<` is character data.
  *
  * Character data decodes `&amp; &lt; &gt; &quot; &apos;`, `&nbsp;` (HTML
  * only, to a space) and numeric references `&#N;` / `&#xH;` to a valid
  * code point; a reference must close with `;` within 10 characters of its
  * `&`, anything else stays literal. In HTML mode the raw-text elements
  * (`script`, `style`, `textarea`, `title`, `noscript`, `svg`) are skipped
  * to their close tag, and their tag names and attribute names match
  * ASCII-case-insensitively, as in HTML5 (`</ſcript>` does not close a
  * `<script>`);
  * XML mode has no raw-text elements and matches names exactly.
  *
  * The lexer is total: no input makes it throw or loop, and it allocates
  * only its text buffer and the names and values it returns. It uses no
  * regex. */
final class Markup private (src: String, html: Boolean, attrNames: Array[String]) {
  import Markup._

  private[this] val n = if (src == null) 0 else src.length
  private[this] var pos = 0
  private[this] var rawClose: String = null
  private[this] val values = new Array[String](attrNames.length)
  private[this] val buf = new java.lang.StringBuilder

  private[this] var tagName: String = null
  private[this] var tagSelfClosing = false

  /** Name of the current tag, as written. */
  def name: String = tagName
  /** The current tag ends with `/>`. */
  def selfClosing: Boolean = tagSelfClosing
  /** Characters of the current `Text` event. */
  def text: CharSequence = buf
  /** Decoded value of the i-th named attribute of the current open tag, or null. */
  def attr(i: Int): String = values(i)

  /** Advance to the next event and return its kind. */
  def next(): Int = {
    if (rawClose != null) skipRawText()
    while (pos < n) {
      if (src.charAt(pos) != '<') return readText()
      val c1 = if (pos + 1 < n) src.charAt(pos + 1) else ' '
      if (src.startsWith("<!--", pos)) pos = after("-->", pos + 4)
      else if (src.startsWith("<![CDATA[", pos)) {
        val e = src.indexOf("]]>", pos + 9)
        buf.setLength(0)
        buf.append(src, pos + 9, if (e < 0) n else e)
        pos = if (e < 0) n else e + 3
        return Text
      } else if (c1 == '!' || c1 == '?') pos = after(">", pos + 2)
      else if (!isNameStart(c1) && c1 != '/') return readText()
      else {
        val ev = readTag()
        if (ev != End) return ev
      }
    }
    End
  }

  private def after(close: String, from: Int): Int = {
    val e = src.indexOf(close, from)
    if (e < 0) n else e + close.length
  }

  /** Character data up to the next `<` (the first character may be a
    * `<` that opens no markup). */
  private def readText(): Int = {
    buf.setLength(0)
    val start = pos
    while (pos < n && (pos == start || src.charAt(pos) != '<')) {
      val c = src.charAt(pos)
      if (c == '&') pos = decodeEntity(src, pos, n, html, buf)
      else { buf.append(c); pos += 1 }
    }
    Text
  }

  /** A tag at `pos`; returns `Open`/`Close`, or `End` when nothing is
    * emitted (no name, or cut off by the end of input). */
  private def readTag(): Int = {
    val closing = src.charAt(pos + 1) == '/'
    val nameStart = if (closing) pos + 2 else pos + 1
    var k = nameStart
    while (k < n && isNameChar(src.charAt(k))) k += 1
    val nameEnd = k
    java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], null)
    tagSelfClosing = false
    while (k < n && src.charAt(k) != '>') {
      val ch = src.charAt(k)
      if (Character.isWhitespace(ch)) k += 1
      else if (ch == '/') {
        if (k + 1 < n && src.charAt(k + 1) == '>') tagSelfClosing = true
        k += 1
      } else {
        val an = k
        while (k < n && {
          val a = src.charAt(k)
          a != '=' && a != '>' && a != '/' && !Character.isWhitespace(a)
        }) k += 1
        val ae = k
        while (k < n && Character.isWhitespace(src.charAt(k))) k += 1
        if (k < n && src.charAt(k) == '=') {
          k += 1
          while (k < n && Character.isWhitespace(src.charAt(k))) k += 1
          var vs = k
          var ve = k
          if (k < n && (src.charAt(k) == '"' || src.charAt(k) == '\'')) {
            val q = src.indexOf(src.charAt(k), k + 1)
            vs = k + 1
            ve = if (q < 0) n else q
            k = if (q < 0) n else q + 1
          } else {
            while (k < n && !Character.isWhitespace(src.charAt(k)) && src.charAt(k) != '>') k += 1
            ve = k
          }
          if (!closing) keep(an, ae, vs, ve)
        }
      }
    }
    if (k >= n) { pos = n; return End }
    pos = k + 1
    if (nameEnd == nameStart) return End
    tagName = src.substring(nameStart, nameEnd)
    if (closing) Close
    else {
      if (html && !tagSelfClosing)
        rawClose = RawText.find(r => r.length == nameEnd - nameStart && nameMatches(nameStart, r)).orNull
      Open
    }
  }

  /** Store the value of attribute `src[an, ae)` if the caller named it
    * and no earlier attribute of that name had a value. */
  private def keep(an: Int, ae: Int, vs: Int, ve: Int): Unit = {
    var i = 0
    while (i < attrNames.length) {
      val want = attrNames(i)
      if (values(i) == null && ae - an == want.length && nameMatches(an, want)) {
        val sb = new java.lang.StringBuilder(ve - vs)
        var j = vs
        while (j < ve) {
          if (src.charAt(j) == '&') j = decodeEntity(src, j, ve, html, sb)
          else { sb.append(src.charAt(j)); j += 1 }
        }
        values(i) = sb.toString
      }
      i += 1
    }
  }

  /** `src` at `at` spells the lowercase name `want`; HTML folds only ASCII
    * `A-Z`, so no other character's case mapping can make a name match. */
  private def nameMatches(at: Int, want: String): Boolean = {
    var j = 0
    while (j < want.length) {
      val c = src.charAt(at + j)
      val lc = if (html && c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if (lc != want.charAt(j)) return false
      j += 1
    }
    true
  }

  /** After an HTML raw-text open tag: move to its close tag (`</` + the
    * name, ASCII-case-insensitive), which the next read lexes as a tag. */
  private def skipRawText(): Unit = {
    val len = rawClose.length
    var e = pos
    while (e <= n - len - 2 && !(src.charAt(e) == '<' && src.charAt(e + 1) == '/' &&
        nameMatches(e + 2, rawClose))) e += 1
    pos = if (e <= n - len - 2) e else n
    rawClose = null
  }
}

object Markup {
  final val End = 0
  final val Text = 1
  final val Open = 2
  final val Close = 3

  /** HTML elements whose content is not markup. */
  private val RawText: Set[String] = Set("script", "style", "textarea", "title", "noscript", "svg")

  /** A lexer over an HTML page that reads the attributes `attrs` (lowercase). */
  def html(src: String, attrs: String*): Markup = new Markup(src, true, attrs.toArray)

  /** A lexer over an XML document that reads the attributes `attrs`. */
  def xml(src: String, attrs: String*): Markup = new Markup(src, false, attrs.toArray)

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == ':'

  /** Decode the reference at `s(i) == '&'` into `out`, reading no further
    * than `limit`; returns the index after it. An unknown, invalid or
    * unterminated reference appends a literal `&` and returns `i + 1`. */
  private def decodeEntity(s: String, i: Int, limit: Int, html: Boolean,
                           out: java.lang.StringBuilder): Int = {
    var semi = i + 1
    val stop = math.min(limit, i + 11)
    while (semi < stop && s.charAt(semi) != ';') semi += 1
    if (semi >= stop) { out.append('&'); return i + 1 }
    val b = i + 1
    val len = semi - b
    def is(ent: String) = len == ent.length && s.startsWith(ent, b)
    val cp =
      if (is("amp")) '&'
      else if (is("lt")) '<'
      else if (is("gt")) '>'
      else if (is("quot")) '"'
      else if (is("apos")) '\''
      else if (html && is("nbsp")) ' '
      else if (len > 1 && s.charAt(b) == '#') {
        val hex = s.charAt(b + 1) == 'x' || s.charAt(b + 1) == 'X'
        codePoint(s, if (hex) b + 2 else b + 1, semi, if (hex) 16 else 10)
      } else -1
    if (cp < 0) { out.append('&'); i + 1 }
    else { out.appendCodePoint(cp); semi + 1 }
  }

  /** The digits of `s[from, to)` in `radix` as a valid code point, else -1.
    * Accepts what `Integer.parseInt` accepts (an optional sign, any
    * Unicode digit); at most 8 digits fit before the `;`, so no overflow. */
  private def codePoint(s: String, from: Int, to: Int, radix: Int): Int = {
    var i = from
    val neg = i < to && s.charAt(i) == '-'
    if (i < to && (neg || s.charAt(i) == '+')) i += 1
    if (i >= to) return -1
    var v = 0
    while (i < to) {
      val d = Character.digit(s.charAt(i), radix)
      if (d < 0) return -1
      v = v * radix + d
      i += 1
    }
    if (neg && v != 0) -1
    else if (Character.isValidCodePoint(v)) v
    else -1
  }
}
