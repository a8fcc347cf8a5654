package graft.text

import java.util.concurrent.ConcurrentHashMap
import java.util.regex.{Matcher, Pattern}

/** Python-`re` / `str` compatibility layer.
  *
  * The reference engine (`/root/reference/src/extractor.py`) is Python; its
  * extraction semantics depend on Python string/regex behavior. This object
  * reproduces exactly the subset used there so the pure-Scala kernel is
  * bit-compatible:
  *
  *  - `\s`/`\w`/`\d` are Unicode-aware in Python 3 → compile with
  *    [[Pattern.UNICODE_CHARACTER_CLASS]].
  *  - `re.IGNORECASE` on `str` is Unicode-aware → CASE_INSENSITIVE +
  *    UNICODE_CASE.
  *  - `str.split(sep)` keeps trailing empty fields (`"a\n".split("\n") ==
  *    ["a",""]`) → Java `split(sep, -1)`.
  *  - `re.findall` returns group(1) when the pattern has exactly one group,
  *    whole matches with zero groups, tuples with >1 groups.
  *  - `re.sub(p, r, s, count)` — several reference call sites pass
  *    `re.IGNORECASE` (== 2) positionally where `count` is expected
  *    (e.g. `src/extractor.py:1462,1534,1538`), making the substitution
  *    case-SENSITIVE with at most 2 replacements; [[subN]] reproduces that.
  *  - Python slicing clamps out-of-range indices → [[slice]].
  *
  * Patterns are compiled once per JVM (concurrent cache) — the analogue of
  * the reference's one-extractor-per-worker precompilation
  * (`src/parallel_processor.py:344-347`).
  *
  * Known divergence (documented, not triggered by any realistic corpus):
  * Python's `\s` additionally matches the C0 separators U+001C–U+001F,
  * which Unicode White_Space (Java's `\s` under UNICODE_CHARACTER_CLASS)
  * excludes. Text containing those control characters would tokenize
  * differently; PDF-extracted judgment text does not contain them.
  */
object Py {
  final val I = Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE
  final val S = Pattern.DOTALL
  final val M = Pattern.MULTILINE

  private val cache = new ConcurrentHashMap[(String, Int), Pattern]()

  def pattern(p: String, flags: Int = 0): Pattern = {
    val key = (p, flags)
    var pat = cache.get(key)
    if (pat == null) {
      pat = Pattern.compile(p, flags | Pattern.UNICODE_CHARACTER_CLASS)
      cache.putIfAbsent(key, pat)
    }
    pat
  }

  /** `re.search(p, s, flags)` → first match's group(1) if the pattern has
    * groups else group(0); None when no match (or the group didn't
    * participate). */
  def search1(p: String, s: String, flags: Int = 0): Option[String] = {
    val m = pattern(p, flags).matcher(s)
    if (m.find()) Option(if (m.groupCount() >= 1) m.group(1) else m.group(0))
    else None
  }

  /** `re.search` returning the whole Matcher-style groups: group(0) plus all
    * capture groups (null where unmatched). */
  def searchGroups(p: String, s: String, flags: Int = 0): Option[IndexedSeq[String]] = {
    val m = pattern(p, flags).matcher(s)
    if (m.find()) Some((0 to m.groupCount()).map(i => m.group(i))) else None
  }

  /** `re.search(...)` start/end positions of the whole match. */
  def searchSpan(p: String, s: String, flags: Int = 0): Option[(Int, Int)] = {
    val m = pattern(p, flags).matcher(s)
    if (m.find()) Some((m.start(), m.end())) else None
  }

  /** `re.match(p, s, flags)` — anchored at the start (NOT fullmatch). */
  def matches(p: String, s: String, flags: Int = 0): Boolean =
    pattern(p, flags).matcher(s).lookingAt()

  /** `bool(re.search(p, s, flags))`. */
  def contains(p: String, s: String, flags: Int = 0): Boolean =
    pattern(p, flags).matcher(s).find()

  /** `re.findall` for patterns with exactly one capture group (or zero →
    * whole match). Unmatched optional group yields "" like Python. */
  def findAll(p: String, s: String, flags: Int = 0): List[String] = {
    val m = pattern(p, flags).matcher(s)
    val out = List.newBuilder[String]
    while (m.find()) {
      val g = if (m.groupCount() >= 1) m.group(1) else m.group(0)
      out += (if (g == null) "" else g)
    }
    out.result()
  }

  /** `re.findall` for multi-group patterns → list of group tuples
    * (unmatched group → "" as in Python). */
  def findAllGroups(p: String, s: String, flags: Int = 0): List[IndexedSeq[String]] = {
    val m = pattern(p, flags).matcher(s)
    val out = List.newBuilder[IndexedSeq[String]]
    while (m.find()) {
      out += (1 to m.groupCount()).map { i =>
        val g = m.group(i); if (g == null) "" else g
      }
    }
    out.result()
  }

  /** `re.finditer` → (group1-or-0, start, end) triples. */
  def findIter(p: String, s: String, flags: Int = 0): List[(String, Int, Int)] = {
    val m = pattern(p, flags).matcher(s)
    val out = List.newBuilder[(String, Int, Int)]
    while (m.find()) {
      val g = if (m.groupCount() >= 1) m.group(1) else m.group(0)
      out += ((if (g == null) "" else g, m.start(), m.end()))
    }
    out.result()
  }

  /** `re.sub(p, repl, s)` with a *literal* replacement (no backrefs). */
  def sub(p: String, repl: String, s: String, flags: Int = 0): String =
    pattern(p, flags).matcher(s).replaceAll(Matcher.quoteReplacement(repl))

  /** `re.sub` with Python-style backreferences `\1` in the replacement. */
  def subRef(p: String, pyRepl: String, s: String, flags: Int = 0): String = {
    val javaRepl = pyRepl.replaceAll("""\\(\d)""", """\$$1""")
    pattern(p, flags).matcher(s).replaceAll(javaRepl)
  }

  /** `re.sub(p, repl, s, count)` — at most `count` replacements, literal
    * replacement. Mirrors the reference's flags-as-count bug sites. */
  def subN(p: String, repl: String, s: String, count: Int, flags: Int = 0): String = {
    val m = pattern(p, flags).matcher(s)
    val sb = new java.lang.StringBuilder
    var n = 0
    while (n < count && m.find()) {
      m.appendReplacement(sb, Matcher.quoteReplacement(repl))
      n += 1
      // Python allows an empty match adjacent to the previous one but never
      // two empty matches at the same position; Java's find() already
      // advances past empty matches, matching Python 3.7+ behavior for our
      // replacement="" use sites.
    }
    m.appendTail(sb)
    sb.toString
  }

  /** `re.split(p, s)` — keeps empty fields like Python. */
  def resplit(p: String, s: String, flags: Int = 0): List[String] =
    pattern(p, flags).split(s, -1).toList

  /** `str.split(sep)` — plain (non-regex) split keeping trailing empties. */
  def split(s: String, sep: String): List[String] =
    s.split(Pattern.quote(sep), -1).toList

  /** `str.split()` with no args — split on whitespace runs, no empties. */
  def splitWs(s: String): List[String] = {
    val t = s.strip()
    if (t.isEmpty) Nil
    else pattern("""\s+""").split(t).toList
  }

  /** First `limit` tokens of `str.split()` without scanning the whole
    * string — equivalent to `s.split()[:limit]` (Python splits the entire
    * string; the prefix of the token list is identical either way). */
  def splitWsLimit(s: String, limit: Int): List[String] = {
    val out = List.newBuilder[String]
    var i = 0
    var n = 0
    val len = s.length
    while (i < len && n < limit) {
      while (i < len && Character.isWhitespace(s.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !Character.isWhitespace(s.charAt(i))) i += 1
        out += s.substring(start, i)
        n += 1
      }
    }
    out.result()
  }

  /** Python slice `s[a:b]` with clamping; negative indices supported. */
  def slice(s: String, from: Int, until: Int): String = {
    val n = s.length
    def norm(i: Int): Int = {
      val j = if (i < 0) n + i else i
      math.max(0, math.min(n, j))
    }
    val a = norm(from); val b = norm(until)
    if (a >= b) "" else s.substring(a, b)
  }
  /** `s[a:]` */
  def sliceFrom(s: String, from: Int): String = slice(s, from, s.length)
  /** `s[:b]` */
  def sliceTo(s: String, until: Int): String = slice(s, 0, until)

  /** Python `str.strip()` — Unicode whitespace. */
  def strip(s: String): String = s.strip()

  /** Python floor division for possibly-negative operands. */
  def floorDiv(a: Long, b: Long): Long = Math.floorDiv(a, b)

  // ---------------------------------------------------------------------
  // Fast exact scanning. The JDK regex engine finds unanchored matches by
  // attempting the pattern at every position in turn; for the extraction
  // kernel's keyword-prefixed patterns that per-position attempt (with
  // case folding) dominates the whole pipeline's CPU. [[Rx]] keeps the
  // match semantics bit-exact while skipping work with `String.indexOf`
  // (an intrinsic) over the case-folded text.
  // ---------------------------------------------------------------------

  /** Where every match of a pattern may start.
    *
    * `LitAnchor(needles)`: EVERY match starts, at its first character, with
    * one of `needles` compared under the regex engine's own case folding
    * (`toLowerCase(toUpperCase(cp))` per code point — [[foldCase]]).
    * `PredAnchor(pred)`: every match starts at a code point satisfying
    * `pred`. The pattern must not contain `^`, `\A`, `\G`, a leading `\b`,
    * or lookbehind (the scan uses opaque match regions anchored at each
    * candidate). */
  sealed trait Anchor
  final case class LitAnchor(needles: Seq[String]) extends Anchor
  final case class PredAnchor(pred: Int => Boolean, desc: String) extends Anchor

  /** `Some(LitAnchor(needles))` — the usual [[Rx]] anchor. */
  def lit(needles: String*): Option[Anchor] = Some(LitAnchor(needles))

  /** Start-of-match predicate for `[\d,]`-headed amount patterns:
    * regex `\d` under UNICODE_CHARACTER_CLASS is Unicode Nd. */
  final val DigitOrComma: Option[Anchor] =
    Some(PredAnchor(cp => Character.isDigit(cp) || cp == ',', "digit-or-comma"))
  final val DigitStart: Option[Anchor] = Some(PredAnchor(Character.isDigit _, "digit"))

  /** The JDK regex case-fold transform (what `Pattern$SliceU`/`CIBackRef`
    * apply per code point): `toLowerCase(toUpperCase(cp))`. Unlike
    * `String.toLowerCase` it is length-preserving, so folded indices map
    * 1:1 onto the original string, and it never reads the default locale. */
  def foldCase(s: String): String = {
    val n = s.length
    val a = new Array[Char](n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c < 0x80) {
        // ASCII fast path: only A-Z fold, and they fold to a-z
        a(i) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        i += 1
      } else if (Character.isHighSurrogate(c) && i + 1 < n && Character.isLowSurrogate(s.charAt(i + 1))) {
        val cp = Character.toCodePoint(c, s.charAt(i + 1))
        val f = Character.toLowerCase(Character.toUpperCase(cp))
        if (Character.charCount(f) == 2) {
          a(i) = Character.highSurrogate(f); a(i + 1) = Character.lowSurrogate(f)
        } else { // defensive: no simple mapping crosses planes in practice
          a(i) = c; a(i + 1) = s.charAt(i + 1)
        }
        i += 2
      } else {
        // int-precision transform (the char overloads delegate to these)
        val f = Character.toLowerCase(Character.toUpperCase(c.toInt))
        a(i) = if (f >= 0 && f <= 0xFFFF) f.toChar else c
        i += 1
      }
    }
    new String(a)
  }

  /** One extraction pattern: the regex, its flags, its start [[Anchor]] and
    * its required-literal guard, declared together and scanned by one loop.
    *
    * The contract:
    *  - `guard`: every match of the pattern contains at least one of these
    *    literals, compared under [[foldCase]]. When none occurs in the
    *    folded text, the scan returns at once.
    *  - `anchor`: every match starts with one of its literals (or at a code
    *    point its predicate accepts); see [[Anchor]]. The scan attempts the
    *    pattern only at those candidates, in increasing order, and
    *    reproduces the JDK `while (m.find())` iteration exactly (continue
    *    from the match end; advance by one past an empty match).
    *
    * Both are pure speedups: every method returns what the string API
    * (`Py.findIter(p, s, flags)` and the rest, no guard, no anchor) returns
    * for the same regex and flags. AnchoredScanSpec pins that equivalence
    * for every `Rx` the kernel ships, over corpus, adversarial case-fold
    * traps and fuzz. A guard whose literals are the anchor's needles adds
    * nothing: the anchored loop already returns when no needle occurs.
    *
    * `folded`, where a method takes it, may pass a precomputed
    * [[foldCase]] of `s` so several patterns share one fold. */
  final case class Rx(p: String, flags: Int = 0, anchor: Option[Anchor] = None,
                      guard: Seq[String] = Nil) {
    private[this] val compiled = pattern(p, flags)
    private[this] val guardF = guard.map(foldCase).toArray
    private[this] val needles: Array[String] = anchor match {
      case Some(LitAnchor(ns)) => ns.map(foldCase).toArray
      case _ => null
    }
    private[this] val pred: Int => Boolean = anchor match {
      case Some(PredAnchor(f, _)) => f
      case _ => null
    }

    /** `re.finditer` → (group1-or-0, start, end), at most `maxMatches`. */
    def findIter(s: String, folded: String = null,
                 maxMatches: Int = Int.MaxValue): List[(String, Int, Int)] = {
      val out = List.newBuilder[(String, Int, Int)]
      scan(s, folded, maxMatches)(m => out += ((group1(m), m.start(), m.end())))
      out.result()
    }

    /** `re.findall` (one group or none). */
    def findAll(s: String, folded: String = null): List[String] = {
      val out = List.newBuilder[String]
      scan(s, folded, Int.MaxValue)(m => out += group1(m))
      out.result()
    }

    /** `re.search` → group(1)-or-0 of the first match. */
    def search1(s: String, folded: String = null): Option[String] = {
      var res: Option[String] = None
      scan(s, folded, 1)(m => res = Option(if (m.groupCount() >= 1) m.group(1) else m.group(0)))
      res
    }

    /** `bool(re.search(...))`. */
    def contains(s: String, folded: String = null): Boolean = {
      var hit = false
      scan(s, folded, 1)(_ => hit = true)
      hit
    }

    private def group1(m: Matcher): String = {
      val g = if (m.groupCount() >= 1) m.group(1) else m.group(0)
      if (g == null) "" else g
    }

    private def scan(s: String, folded0: String, maxMatches: Int)(emit: Matcher => Unit): Unit = {
      val folded =
        if (folded0 == null && (guardF.nonEmpty || needles != null)) foldCase(s) else folded0
      if (guardF.nonEmpty && !guardF.exists(folded.contains)) return
      val m = compiled.matcher(s)
      var found = 0
      if (anchor.isEmpty) {
        while (found < maxMatches && m.find()) { emit(m); found += 1 }
        return
      }
      val n = s.length
      val nextOcc = if (needles != null) needles.map(folded.indexOf(_)) else null
      var pos = 0
      while (found < maxMatches && pos <= n) {
        var cand = -1
        if (needles != null) {
          var i = 0
          while (i < needles.length) {
            var o = nextOcc(i)
            if (o >= 0 && o < pos) { o = folded.indexOf(needles(i), pos); nextOcc(i) = o }
            if (o >= 0 && (cand < 0 || o < cand)) cand = o
            i += 1
          }
        } else {
          var i = pos
          while (cand < 0 && i < n) {
            val cp = s.codePointAt(i)
            if (pred(cp)) cand = i else i += Character.charCount(cp)
          }
        }
        if (cand < 0) return
        m.region(cand, n)
        if (m.lookingAt()) {
          emit(m); found += 1
          pos = if (m.end() > m.start()) m.end() else cand + 1
        } else pos = cand + 1
      }
    }
  }

  /** Regex `\s` under UNICODE_CHARACTER_CLASS (the Unicode White_Space
    * property as the JDK implements it) — all members are BMP chars.
    * Exhaustively pinned against `Pattern.compile("\\s", UCC)` in
    * AnchoredScanSpec. */
  def isRegexWs(c: Char): Boolean =
    (c >= 0x9 && c <= 0xD) || c == 0x85 || {
      val t = Character.getType(c)
      t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
        t == Character.PARAGRAPH_SEPARATOR
    }

  /** Exact single-pass equivalent of `sub("""\s+""", " ", s)` — each
    * maximal whitespace run (leading/trailing included) becomes one
    * space. */
  def wsCollapse(s: String): String = {
    val n = s.length
    // fast path: already collapsed (every ws char is a lone ' ')
    var i = 0
    var prevWs = false
    var needs = false
    while (i < n && !needs) {
      val c = s.charAt(i)
      val ws = isRegexWs(c)
      if (ws && (c != ' ' || prevWs)) needs = true
      prevWs = ws
      i += 1
    }
    if (!needs) return s
    val sb = new java.lang.StringBuilder(n)
    i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (isRegexWs(c)) {
        sb.append(' ')
        i += 1
        while (i < n && isRegexWs(s.charAt(i))) i += 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
