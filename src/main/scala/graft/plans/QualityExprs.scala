package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

object QualityExprs {

  // the eight Gopher stopwords as lowercase ASCII bytes, longest 4
  private val stopBytes: Array[Array[Byte]] =
    graft.pipeline.QualityFilters.stopwords.map(_.getBytes("UTF-8")).toArray
  private val stopSet: java.util.Set[String] = {
    val s = new java.util.HashSet[String]()
    graft.pipeline.QualityFilters.stopwords.foreach(s.add)
    s
  }

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** `gopher_signals(text)` — every Gopher A1.1 signal of
    * [[graft.pipeline.QualityFilters.gopherSignals]] computed in ONE
    * compiled byte pass over the raw text, replacing six composed passes
    * per row (the `\s+` normalization regex + its string copy, the
    * `split` token array, three `replace` occurrence scans, one
    * `regexp_count`, one `regexp_extract_all` + `array_distinct`).
    *
    * Semantics are replicated EXACTLY from the composed form (the DuckDB
    * oracle replays that arithmetic, so any deviation fails the
    * correctness gate; QualityFiltersSpec pins the differential on trap
    * inputs):
    *
    *  - normalization: Java `\s` is ASCII-only ([ \t\n\x0B\f\r]), so
    *    tokens are maximal runs of non-ASCII-whitespace bytes and
    *    `length(nt)` = sum of token codepoint lengths + (n_tokens - 1);
    *    non-ASCII whitespace (U+00A0...) stays INSIDE tokens, as in the
    *    regex form;
    *  - word_count = number of tokens (= `size(split(nt, " "))` on the
    *    normalized string);
    *  - mean_word_len_raw = (length(nt) - (n-1)) / n as the same single
    *    double division of exact ints (= sum_cp / n);
    *  - symbol occurrences mirror the replace-length arithmetic: every
    *    '#', floor(run_of_dots / 3) per maximal '.' run (replace scans
    *    left-to-right non-overlapping), every U+2026; runs cannot span
    *    whitespace and are broken by any non-'.' codepoint, exactly as in
    *    the normalized string. The per-occurrence divisions are exact in
    *    double (3k/3), so the sum and the final ratio reproduce bit-equal;
    *  - alpha_word_ratio counts tokens containing [A-Za-z] — exactly one
    *    `(?:^| )[^ ]*[A-Za-z]` match per such token (the greedy run can
    *    never cross a space, so matches and tokens are 1:1);
    *  - n_stopwords = distinct stopword TYPES: a token counts iff its
    *    lowercase equals one of the eight stopwords. ASCII tokens compare
    *    byte-wise; a non-ASCII token of <= 4 codepoints is lowercased via
    *    the same `String.toLowerCase()` the builtin `lower` delegates to
    *    (so 'iſ' -> "is" still counts — the long-s trap); longer tokens
    *    cannot lower to a <= 4-char stopword because Java lowercasing
    *    never shrinks the codepoint count.
    *
    * Zero-token input returns (0, 0.0, 0.0, 0.0, 0) — the composed form's
    * `when(n === 0, ...)` arms. Callers coalesce null text to "" exactly
    * as before. */
  def gopherSignals(u: UTF8String): InternalRow = {
    val bytes = u.getBytes
    val n = bytes.length
    var i = 0
    var nTok = 0L
    var sumCp = 0L
    var alphaTok = 0L
    var hashCnt = 0L
    var dotTriples = 0L
    var ellCnt = 0L
    var stopMask = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        val tokStart = i
        var cp = 0
        var hasAlpha = false
        var allAscii = true
        var dotRun = 0
        while (i < n && !isWs(bytes(i))) {
          val x = bytes(i)
          if (x >= 0) { // ASCII byte
            if ((x >= 'A' && x <= 'Z') || (x >= 'a' && x <= 'z')) hasAlpha = true
            if (x == '#') hashCnt += 1
            if (x == '.') dotRun += 1
            else { dotTriples += dotRun / 3; dotRun = 0 }
            cp += 1
            i += 1
          } else {
            allAscii = false
            dotTriples += dotRun / 3
            dotRun = 0
            // U+2026 HORIZONTAL ELLIPSIS = E2 80 A6
            if (x == 0xe2.toByte && i + 2 < n &&
                bytes(i + 1) == 0x80.toByte && bytes(i + 2) == 0xa6.toByte)
              ellCnt += 1
            cp += 1
            i += UTF8String.numBytesForFirstByte(x)
          }
        }
        dotTriples += dotRun / 3
        nTok += 1
        sumCp += cp
        if (hasAlpha) alphaTok += 1
        if (cp <= 4) {
          val tLen = i - tokStart
          if (allAscii) {
            var k = 0
            while (k < stopBytes.length) {
              val sw = stopBytes(k)
              if (sw.length == tLen) {
                var j = 0
                var ok = true
                while (ok && j < tLen) {
                  var c = bytes(tokStart + j)
                  if (c >= 'A' && c <= 'Z') c = (c + 32).toByte
                  if (c != sw(j)) ok = false
                  j += 1
                }
                if (ok) stopMask |= 1 << k
              }
              k += 1
            }
          } else {
            // locale-independent case fold: the JVM default locale must not
            // change a stopword match (tr-TR would lower "İN" to "in")
            val lowered = new String(bytes, tokStart, i - tokStart,
              java.nio.charset.StandardCharsets.UTF_8).toLowerCase(java.util.Locale.ROOT)
            if (stopSet.contains(lowered)) {
              var k = 0
              while (k < stopBytes.length) {
                if (graft.pipeline.QualityFilters.stopwords(k) == lowered)
                  stopMask |= 1 << k
                k += 1
              }
            }
          }
        }
      }
    }
    if (nTok == 0L)
      return new GenericInternalRow(Array[Any](0L, 0.0, 0.0, 0.0, 0L))
    // identical arithmetic to the composed form: exact-int double
    // divisions ((len-(n-1))/n = sumCp/n; 3k/3 = k; counts/1)
    val meanRaw = sumCp.toDouble / nTok
    val symRaw = (hashCnt.toDouble + dotTriples.toDouble + ellCnt.toDouble) / nTok
    val alphaRaw = alphaTok.toDouble / nTok
    new GenericInternalRow(Array[Any](
      nTok, meanRaw, symRaw, alphaRaw, java.lang.Long.bitCount(stopMask.toLong).toLong))
  }

  def register(spark: SparkSession): Unit = NativeFunctions.register(spark, this)

  /** Column-API form (requires [[register]] on the active session). */
  def gopher_signals(c: Column): Column = call_function("gopher_signals", c)
}
