package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.PiiOps

/** Native codegen'd forms of the [[graft.pipeline.PiiOps]] detectors. */
object PiiExprs {
  /** `pii_redact(text)` — typed-placeholder PII redaction as ONE codegen'd
    * call: the four [[graft.pipeline.PiiOps]] patterns (email, card, ipv4,
    * phone) precompiled once per JVM and applied in their documented
    * sequence, instead of four chained `regexp_replace` plan nodes each
    * round-tripping the row through UTF8String→String. Callers needing the
    * detection counts too use `pii_stats`, which fuses counts + Luhn +
    * this redaction into one call. */
  def redactU(s: UTF8String): UTF8String =
    UTF8String.fromString(PiiOps.redact(s.toString))

  /** `pii_stats(text)` — the full PII detection+redaction surface of
    * q_pii_stats as ONE codegen'd call over the SAME compiled
    * [[graft.pipeline.PiiOps]] patterns: per-pattern match COUNTS via bare
    * `Matcher.find` loops (the composed `size(regexp_extract_all(...))`
    * form materialized an array of match UTF8Strings per pattern just to
    * take its size), the Luhn-valid card count inline (the composed form
    * ran an INTERPRETED higher-order `filter` lambda with a per-element
    * `regexp_replace` + `luhn_check` call), and the documented sequential
    * redaction. Counting semantics are identical by construction — same
    * pattern objects, and `regexp_extract_all` is itself a
    * non-overlapping-leftmost `find` loop; Luhn parity with the Spark
    * builtin is differential-tested in PiiSpec. */
  def statsU(u: UTF8String): InternalRow = {
    val s = u.toString
    def count(p: java.util.regex.Pattern): Long = {
      val m = p.matcher(s)
      var c = 0L
      while (m.find()) c += 1
      c
    }
    val nEmail = count(PiiOps.emailPattern)
    val nPhone = count(PiiOps.phonePattern)
    val nIp = count(PiiOps.ipv4Pattern)
    val mc = PiiOps.cardPattern.matcher(s)
    var nCard = 0L
    var nValid = 0L
    val digits = new java.lang.StringBuilder(24)
    while (mc.find()) {
      nCard += 1
      digits.setLength(0)
      var i = mc.start()
      while (i < mc.end()) {
        val ch = s.charAt(i)
        if (ch >= '0' && ch <= '9') digits.append(ch)
        i += 1
      }
      if (PiiOps.luhn(digits.toString)) nValid += 1
    }
    new GenericInternalRow(Array[Any](nEmail, nPhone, nIp, nCard, nValid,
      UTF8String.fromString(PiiOps.redact(s))))
  }

  def register(spark: SparkSession): Unit = NativeFunctions.register(spark, this)

  /** Column-API form (requires [[register]] on the active session). */
  def pii_redact(c: Column): Column = call_function("pii_redact", c)
  def pii_stats(c: Column): Column = call_function("pii_stats", c)
}
