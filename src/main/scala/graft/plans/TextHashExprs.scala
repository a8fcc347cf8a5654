package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the per-document text-hash kernels of
  * the dedup/fingerprint family. Semantics are bit-identical to the
  * composed-builtin forms they replace (seeded `md5(concat('k#', tok))`
  * votes/minima, `md5(substring(nt, i, 8))` shingles) — what these add is a
  * single compiled pass per row: no interpreted higher-order-function
  * lambdas, no per-element struct/array churn, one reused MessageDigest.
  * Each is a [[NativeFunctions]] table entry: a static call inside
  * whole-stage codegen.
  *
  * Hex-vs-binary note: minima/maxima are tracked on raw digest bytes and
  * hex-encoded once at the end — valid because the nibble→char map of
  * lowercase hex is monotone, so unsigned-byte order equals the
  * lexicographic order of the hex strings the builtin form compares.
  */
object TextHashExprs {

  // MessageDigest MD5 is the RIGHT primitive here and a hand-rolled MD5 is
  // NOT: HotSpot intrinsifies the MD5 compress function (JDK 16+,
  // _md5_implCompress), so a pure-Java RFC 1321 reimplementation measured
  // ~2x SLOWER per call (112 vs 230 ns at 6-40-byte inputs, round-6
  // microbench; the full experiment — assembled padding buffer, zero
  // per-call allocation — was built, differential-tested green, and
  // REVERTED on those numbers, q_dedup_simhash 0.44->0.51 s end to end).
  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexChars(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Seed prefixes "0#".."15#" as UTF-8 bytes, shared across rows. */
  private val seedBytes: Array[Array[Byte]] =
    (0 until 64).map(k => s"$k#".getBytes("UTF-8")).toArray

  /** simhash over 16 bits: token votes +1 on bit b iff the top bit of
    * md5("b#" + tok) is set (⟺ first hex digit >= '8'), else -1; bit set
    * iff the vote sum is >= 0 (⟺ 2·pos >= n). */
  def simhash16(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val pos = new Array[Int](16)
    val md = md5Local.get()
    val buf = new Array[Byte](16)
    var i = 0
    while (i < n) {
      val tok = tokens.getUTF8String(i).getBytes
      var b = 0
      while (b < 16) {
        md.reset()
        md.update(seedBytes(b))
        md.update(tok)
        md.digest(buf, 0, 16)
        if ((buf(0) & 0x80) != 0) pos(b) += 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 16) {
      if (2 * pos(b) >= n) out |= (1L << b)
      b += 1
    }
    out
  }

  /** MinHash signature: for k in 0..numHashes-1, the minimum of
    * md5("k#" + tok) over the tokens, hex-encoded. Empty input → array of
    * nulls (callers exclude zero-token docs, matching the GROUP BY form).
    * Each DISTINCT token is hashed once (a per-call hash set skips
    * repeats): a minimum ignores repeats, so the result is bit-identical,
    * and word tokens repeat heavily in real text (numHashes md5 calls per
    * occurrence dominated the kernel). */
  def minhashSig(tokens: ArrayData, numHashes: Int): ArrayData = {
    require(numHashes <= seedBytes.length, s"numHashes $numHashes > ${seedBytes.length}")
    val n = tokens.numElements()
    val mins = new Array[Array[Byte]](numHashes)
    val md = md5Local.get()
    val buf = new Array[Byte](16)
    val seen = new java.util.HashSet[UTF8String](math.max(16, n / 2))
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (seen.add(t)) {
        val tok = t.getBytes
        var k = 0
        while (k < numHashes) {
          md.reset()
          md.update(seedBytes(k))
          md.update(tok)
          md.digest(buf, 0, 16)
          if (mins(k) == null || java.util.Arrays.compareUnsigned(buf, mins(k)) < 0)
            mins(k) = buf.clone()
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins.map(d => if (d == null) null else hex(d)))
  }

  /** (min, max) md5 over all `width`-char shingles of `nt` at positions
    * 1..max(numChars-width+1, 1). Equivalent to folding
    * `md5(substring(nt, i, width))` — positions count code points like the
    * builtin substring, and each shingle's md5 is fed the exact byte slice
    * that substring would produce — but the loop slides over the UTF-8
    * bytes directly: zero allocation per position (the explode form and
    * the first in-row form allocated a substring + byte copy + digest per
    * character of the corpus). */
  def shingleMinMax(nt: UTF8String, width: Int): InternalRow = {
    val bytes = nt.getBytes
    // code-point start offsets (ASCII fast path: skipped, offsets are 1:1);
    // lead bytes are those not matching the 0b10xxxxxx continuation mask.
    var ascii = true
    var j = 0
    while (ascii && j < bytes.length) { if (bytes(j) < 0) ascii = false; j += 1 }
    val offsets: Array[Int] =
      if (ascii) null
      else {
        val o = new Array[Int](nt.numChars() + 1)
        var c = 0
        var k = 0
        while (k < bytes.length) {
          if ((bytes(k) & 0xc0) != 0x80) { o(c) = k; c += 1 }
          k += 1
        }
        o(c) = bytes.length
        o
      }
    val numChars = if (ascii) bytes.length else offsets.length - 1
    val positions = math.max(numChars - width + 1, 1)

    val md = md5Local.get()
    val buf = new Array[Byte](16)
    var mn: Array[Byte] = null
    var mx: Array[Byte] = null
    var i = 0
    while (i < positions) {
      val from = if (ascii) i else offsets(i)
      val until =
        if (ascii) math.min(i + width, bytes.length)
        else offsets(math.min(i + width, numChars))
      md.reset()
      md.update(bytes, from, until - from)
      md.digest(buf, 0, 16)
      if (mn == null) { mn = buf.clone(); mx = buf.clone() }
      else {
        if (java.util.Arrays.compareUnsigned(buf, mn) < 0) System.arraycopy(buf, 0, mn, 0, 16)
        if (java.util.Arrays.compareUnsigned(buf, mx) > 0) System.arraycopy(buf, 0, mx, 0, 16)
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](hex(mn), hex(mx)))
  }

  /** All overlapping character n-grams (codepoint-counted, matching the
    * builtin `substring`'s SQL semantics) in ONE O(len) pass. The
    * composed-builtin form — `transform(sequence(1, len-n+1),
    * i -> substr(nt, i, n))` — is O(len²): every `substr(nt, i, _)` on a
    * UTF8String re-scans the variable-width bytes from position 0 to
    * find codepoint i, which at ~2.5k chars/doc turns trigram explode
    * stages into the dominant cost of the whole plan (measured 31 s of
    * a 90 s bench). Returns an empty array when len < n. */
  def charNgrams(s: UTF8String, n: Int): ArrayData = {
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val str = s.toString
    val len = str.length
    // start offset (UTF-16) of every codepoint
    val starts = new Array[Int](len + 1)
    var m = 0
    var i = 0
    while (i < len) {
      starts(m) = i
      i += Character.charCount(str.codePointAt(i))
      m += 1
    }
    starts(m) = len
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    var k = 0
    while (k <= m - n) {
      out(k) = UTF8String.fromString(str.substring(starts(k), starts(k + n)))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Codepoint start BYTE offsets of a UTF8String (terminated by the
    * total byte length) plus the codepoint count — the shared index the
    * one-pass window kernels below walk instead of re-scanning from
    * byte 0 per position the way each builtin `substr(t, i, _)` does. */
  private def cpStarts(bytes: Array[Byte]): (Array[Int], Int) = {
    val n = bytes.length
    val starts = new Array[Int](n + 1)
    var m = 0
    var i = 0
    while (i < n) {
      starts(m) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      m += 1
    }
    starts(m) = n
    (starts, m)
  }

  /** `(pos:int, h:bigint)` for every stride-1 `w`-codepoint window —
    * `h` bit-identical to the builtin `xxhash64(substr(t, pos, w))`
    * (same XXH64, seed 42, over the window's UTF-8 bytes), computed in
    * ONE O(len) pass. Empty array when the text is shorter than `w`. */
  def windowHashes(s: UTF8String, w: Int): ArrayData = {
    if (w <= 0) return new GenericArrayData(Array.empty[Any])
    val bytes = s.getBytes
    val (starts, m) = cpStarts(bytes)
    if (m < w) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - w + 1)
    var k = 0
    while (k <= m - w) {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + starts(k),
        starts(k + w) - starts(k), 42L)
      out(k) = new GenericInternalRow(Array[Any](k + 1, h))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** `(pos:int, s:string)` for each requested 1-based codepoint
    * position — every window sliced off the SAME offset index in one
    * pass (the builtin form pays an O(pos) scan per row). Positions
    * past the end yield the (possibly empty) tail, like `substring`. */
  def windowsAt(s: UTF8String, ps: ArrayData, w: Int): ArrayData = {
    val bytes = s.getBytes
    val (starts, m) = cpStarts(bytes)
    val n = ps.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val p = ps.getInt(i)
      val from = math.min(math.max(p - 1, 0), m)
      val until = math.min(from + math.max(w, 0), m)
      out(i) = new GenericInternalRow(Array[Any](p,
        UTF8String.fromBytes(bytes, starts(from), starts(until) - starts(from))))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Complement of the union of the `w`-codepoint intervals starting at
    * the SORTED 1-based positions `ps` — the exact-substring-dedup gap
    * walk as one O(len) byte pass (the builtin `aggregate` fold pays an
    * O(cursor) scan per interval). */
  def removeIntervals(s: UTF8String, ps: ArrayData, w: Int): UTF8String = {
    val bytes = s.getBytes
    val (starts, m) = cpStarts(bytes)
    val out = new java.io.ByteArrayOutputStream(bytes.length)
    var cur = 1 // 1-based codepoint cursor
    var i = 0
    val n = ps.numElements()
    while (i < n) {
      // registered session-wide: clamp hostile positions to [1, m+1]
      val p = math.min(math.max(ps.getInt(i), 1), m + 1)
      if (p > cur)
        out.write(bytes, starts(cur - 1), starts(p - 1) - starts(cur - 1))
      cur = math.max(cur, p + w)
      i += 1
    }
    if (cur <= m) out.write(bytes, starts(cur - 1), bytes.length - starts(cur - 1))
    UTF8String.fromBytes(out.toByteArray)
  }

  /** Most frequent word 2-gram of a single-space-normalized string, as
    * (gram, count) — ties broken to the binary-smallest gram, exactly the
    * `(count DESC, gram ASC)` window rank over exploded 2-gram rows it
    * replaces (UTF8String.compareTo IS Spark's string sort order). One
    * compiled pass, one hash map per row, no explode/shuffle. NULL when
    * the string has fewer than two tokens (those docs produced no 2-gram
    * row for the window to rank). */
  def top2gram(nt: UTF8String): InternalRow = {
    val bytes = nt.getBytes
    val n = bytes.length
    // token start offsets (normalized input: single 0x20 separators, no
    // leading/trailing space — the same tokens split(nt, ' ') yields)
    var nTok = if (n == 0) 0 else 1
    var i = 0
    while (i < n) { if (bytes(i) == ' '.toByte) nTok += 1; i += 1 }
    if (nTok < 2) return null
    val starts = new Array[Int](nTok)
    var t = 1
    i = 0
    while (i < n) {
      if (bytes(i) == ' '.toByte) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    val counts = new java.util.HashMap[UTF8String, Array[Int]]()
    var g = 0
    while (g < nTok - 1) {
      val from = starts(g)
      val until = if (g + 2 < nTok) starts(g + 2) - 1 else n
      val gram = UTF8String.fromBytes(bytes, from, until - from)
      val c = counts.get(gram)
      if (c == null) counts.put(gram, Array(1)) else c(0) += 1
      g += 1
    }
    var bestGram: UTF8String = null
    var bestCnt = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue()(0)
      if (c > bestCnt || (c == bestCnt && e.getKey.compareTo(bestGram) < 0)) {
        bestGram = e.getKey; bestCnt = c
      }
    }
    new GenericInternalRow(Array[Any](bestGram.clone(), bestCnt.toLong))
  }

  @inline private def isAsciiWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Whitespace-normalize `raw` (Java-`\s` ASCII runs → single 0x20,
    * leading/trailing dropped — exactly
    * `trim(regexp_replace(raw, "\\s+", " "))`) into a fresh buffer,
    * recording each token's start offset. Returns (buffer, usedLen,
    * tokenStarts, nTok); normalization only shrinks, so the buffer is
    * input-sized. */
  private def normalizeWs(raw: Array[Byte]): (Array[Byte], Int, Array[Int], Int) = {
    val n = raw.length
    val out = new Array[Byte](n)
    val starts = new Array[Int](n / 2 + 2)
    var o = 0
    var nTok = 0
    var i = 0
    while (i < n) {
      while (i < n && isAsciiWs(raw(i))) i += 1
      if (i < n) {
        if (o > 0) { out(o) = ' '; o += 1 }
        starts(nTok) = o
        nTok += 1
        while (i < n && !isAsciiWs(raw(i))) { out(o) = raw(i); o += 1; i += 1 }
      }
    }
    (out, o, starts, nTok)
  }

  /** Distinct md5 hex digests of every `k`-token window of the
    * whitespace-NORMALIZED input, in ONE compiled pass over the raw
    * text — bit-identical to the composed
    * `array_distinct(transform(sequence(0, size(toks)-k),
    * i -> md5(array_join(slice(toks, i+1, k), ' '))))` over
    * `toks = split(trim(regexp_replace(raw, '\\s+', ' ')), ' ')`:
    * normalization happens INSIDE the kernel (one byte walk — the
    * builtin regexp_replace chain paid a regex-engine scan plus ~4
    * buffer copies per row), and because the separator is a single
    * space each joined window IS a byte range of the normalized buffer,
    * so md5 sees identical bytes with zero slice/join allocation.
    * Returns an empty array when the input has fewer than `k` tokens
    * (the composed form's `size(toks) >= k` pre-filter). */
  def tokenShinglesMd5(raw: UTF8String, k: Int): ArrayData = {
    if (k <= 0) return new GenericArrayData(Array.empty[Any])
    val (bytes, usedLen, starts, nTok) = normalizeWs(raw.getBytes)
    if (nTok < k) return new GenericArrayData(Array.empty[Any])
    // window w spans token w through token w+k-1: token j ends at
    // starts(j+1) - 1 (the separating space); the final token ends at
    // the normalized length
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val md = md5Local.get()
    val buf = new Array[Byte](16)
    var w = 0
    while (w + k <= nTok) {
      val from = starts(w)
      val until = if (w + k < nTok) starts(w + k) - 1 else usedLen
      md.reset()
      md.update(bytes, from, until - from)
      md.digest(buf, 0, 16)
      seen.add(hex(buf))
      w += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  /** The whitespace-normalized (and optionally trimmed / lowercased)
    * string itself — bit-identical to
    * `[lower(][trim(]regexp_replace(raw, "\\s+", " ")[)][)]` in one byte
    * walk: Java-`\s` is ASCII-only, collapsed runs become one 0x20
    * (leading/trailing runs stay as one space unless `doTrim`), and
    * lowering delegates to the same `UTF8String.toLowerCase` the builtin
    * `lower` uses (so ſ/İ/Σ behave identically). For the hot paths that
    * feed a normalized string into another builtin (md5 fingerprints,
    * char_ngrams shingles, split tokenizers), this replaces a
    * regex-engine scan plus ~4 buffer copies per row with one pass.
    * In SQL, `ws_normalize(text, trim, lower)` takes literal booleans. */
  def wsNormalize(raw: UTF8String, doTrim: Boolean, doLower: Boolean): UTF8String = {
    val b = raw.getBytes
    val n = b.length
    val out = new Array[Byte](n)
    var o = 0
    var i = 0
    var lead = false
    while (i < n && isAsciiWs(b(i))) { i += 1; lead = true }
    if (lead && !doTrim && i < n) { out(o) = ' '; o += 1 }
    var trailing = false
    while (i < n) {
      if (isAsciiWs(b(i))) {
        while (i < n && isAsciiWs(b(i))) i += 1
        if (i < n) { out(o) = ' '; o += 1 }
        else trailing = true
      } else {
        out(o) = b(i); o += 1; i += 1
      }
    }
    // an all-whitespace input collapses to a single space when untrimmed
    if (!doTrim && (trailing || (lead && o == 0))) { out(o) = ' '; o += 1 }
    val s = UTF8String.fromBytes(out, 0, o)
    // UTF8String.toLowerCase, the call Spark's `lower` makes (default
    // locale for non-ASCII): ws_normalize's lower matches the builtin's
    if (doLower) s.toLowerCase else s
  }

  /** md5 hex of the whitespace-normalized input — bit-identical to
    * `md5(trim(regexp_replace(raw, "\\s+", " ")))` (the exact-dedup
    * fingerprint of the training pipelines) computed in one byte walk +
    * one digest, instead of a regex-engine scan plus ~4 buffer copies
    * per row before the builtin md5. */
  def normMd5(raw: UTF8String): UTF8String = {
    val (bytes, usedLen, _, _) = normalizeWs(raw.getBytes)
    val md = md5Local.get()
    md.reset()
    md.update(bytes, 0, usedLen)
    val buf = new Array[Byte](16)
    md.digest(buf, 0, 16)
    hex(buf)
  }

  /** The dedup-family word tokens —
    * `regexp_extract_all(lower(text), '[a-z0-9]+', 0)` — in one compiled
    * pass: lowering delegates to the same `UTF8String.toLowerCase` the
    * builtin uses (İ → "i̇" still contributes its ASCII 'i', ſ → 's' —
    * the scan runs on the LOWERED bytes exactly like the regex), then
    * maximal [a-z0-9] byte runs are sliced off directly (multi-byte
    * UTF-8 units never contain ASCII bytes, so a byte scan is exact).
    * Non-overlapping leftmost maximal runs == the regex's match set.
    * Non-null input always yields an array (possibly empty). */
  def asciiTokens(raw: UTF8String): ArrayData = {
    // the builtin `lower`'s own call, default locale included (see above)
    val b = raw.toLowerCase.getBytes
    val n = b.length
    @inline def isTok(x: Byte): Boolean =
      (x >= 'a' && x <= 'z') || (x >= '0' && x <= '9')
    var count = 0
    var i = 0
    while (i < n) {
      if (isTok(b(i))) {
        count += 1
        while (i < n && isTok(b(i))) i += 1
      } else i += 1
    }
    val out = new Array[Any](count)
    var k = 0
    i = 0
    while (i < n) {
      if (isTok(b(i))) {
        val from = i
        while (i < n && isTok(b(i))) i += 1
        out(k) = UTF8String.fromBytes(b, from, i - from)
        k += 1
      } else i += 1
    }
    new GenericArrayData(out)
  }

  /** Install every [[NativeFunctions]] entry for SQL text; the Column
    * builders below need no install. */
  def register(spark: SparkSession): Unit = NativeFunctions.register(spark)

  def simhash16(tokens: Column): Column = NativeFunctions.column("simhash16", tokens)
  def minhash_sig(tokens: Column, numHashes: Column): Column =
    NativeFunctions.column("minhash_sig", tokens, numHashes)
  def shingle_minmax(nt: Column, width: Column): Column =
    NativeFunctions.column("shingle_minmax", nt, width)
  def char_ngrams(nt: Column, n: Column): Column =
    NativeFunctions.column("char_ngrams", nt, n)
  def window_hashes(t: Column, w: Column): Column =
    NativeFunctions.column("window_hashes", t, w)
  def windows_at(t: Column, ps: Column, w: Column): Column =
    NativeFunctions.column("windows_at", t, ps, w)
  def remove_intervals(t: Column, ps: Column, w: Column): Column =
    NativeFunctions.column("remove_intervals", t, ps, w)
  def top_2gram(nt: Column): Column = NativeFunctions.column("top_2gram", nt)
  def token_shingles_md5(raw: Column, k: Column): Column =
    NativeFunctions.column("token_shingles_md5", raw, k)
  def norm_md5(raw: Column): Column = NativeFunctions.column("norm_md5", raw)
  def ws_normalize(raw: Column, doTrim: Boolean, doLower: Boolean): Column =
    NativeFunctions.column("ws_normalize", raw,
      org.apache.spark.sql.functions.lit(doTrim),
      org.apache.spark.sql.functions.lit(doLower))
  def ascii_tokens(raw: Column): Column = NativeFunctions.column("ascii_tokens", raw)
}

/** NULL on an empty token array: a zero-token doc has no defined simhash —
  * every tie-break would set all 16 bits (0xFFFF), a misleading "hash", and
  * the GROUP BY form this replaces emitted no row at all for such docs. The
  * function is registered session-wide for SQL, so the empty case must be
  * safe without every call site pre-filtering. */
case class SimHash16Expr(child: Expression) extends UnaryExpression with BespokeName {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    if (toks.numElements() == 0) null else TextHashExprs.simhash16(toks)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if ($c.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.plans.TextHashExprs.simhash16($c);
         |}
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): SimHash16Expr =
    copy(child = newChild)
}
