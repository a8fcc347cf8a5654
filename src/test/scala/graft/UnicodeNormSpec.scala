package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.UnicodeNorm

/** UAX #15 normalization + dedup-key fold: published spec vectors for all
  * four forms, compat (K) folds NFC must NOT apply, the canonical
  * singleton (OHM → OMEGA), idempotence, norm_key accent/case/form
  * insensitivity, totality, and kernel == expression through a real plan.
  *
  * Every non-trivial codepoint is written as an explicit \u escape —
  * composed and decomposed spellings are visually identical, so literal
  * characters in test source would make the vectors unreadable/ambiguous. */
class UnicodeNormSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-unicode-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val eAcuteC = "\u00e9" // precomposed e-acute
  private val eAcuteD = "e\u0301" // e + combining acute
  private val aRingC = "\u00c5" // precomposed A-ring
  private val aRingD = "A\u030a" // A + combining ring
  private val ohm = "\u2126" // OHM SIGN (canonical singleton)
  private val omegaU = "\u03a9" // GREEK CAPITAL OMEGA
  private val omegaL = "\u03c9" // greek small omega
  private val fiLig = "\ufb01" // fi ligature (compat)

  private def norm(s: String, form: String): String = {
    val r = UnicodeNorm.norm(UTF8String.fromString(s), UTF8String.fromString(form))
    if (r == null) null else r.toString
  }
  private def key(s: String): String = {
    val r = UnicodeNorm.key(UTF8String.fromString(s))
    if (r == null) null else r.toString
  }

  test("NFC composes, NFD decomposes, singleton OHM maps to OMEGA") {
    assert(norm("caf" + eAcuteD, "NFC") == "caf" + eAcuteC)
    assert(norm("caf" + eAcuteC, "NFD") == "caf" + eAcuteD)
    assert(norm(aRingD + "ngstrom", "NFC") == aRingC + "ngstrom")
    assert(norm(ohm, "NFC") == omegaU)
    assert(norm(ohm, "NFD") == omegaU)
    for (f <- Seq("NFC", "NFD", "NFKC", "NFKD"))
      assert(norm("plain ASCII 123", f) == "plain ASCII 123")
  }

  test("compat (K) folds apply under NFKC/NFKD only") {
    assert(norm(fiLig + "le", "NFKC") == "file")
    assert(norm(fiLig + "le", "NFC") == fiLig + "le") // NFC must NOT fold
    assert(norm("\uff21\uff22", "NFKC") == "AB") // full-width A B
    assert(norm("\u2460", "NFKC") == "1") // circled one
    assert(norm("\u339d", "NFKC") == "cm") // square cm
    assert(norm("\u00b2", "NFKD") == "2") // superscript two
    assert(norm("\u00b2", "NFD") == "\u00b2")
  }

  test("idempotence and canonical reordering: norm(norm(x)) == norm(x)") {
    // A + acute(ccc 230) + cedilla(ccc 202): NFD must reorder cedilla first
    val reorder = "A\u0301\u0327"
    assert(norm(reorder, "NFD") == "A\u0327\u0301")
    val xs = Seq("caf" + eAcuteD + " " + ohm + " " + fiLig,
      "\u4e2d\u6587 \u30c6\u30b9\u30c8", reorder)
    for (x <- xs; f <- Seq("NFC", "NFD", "NFKC", "NFKD"))
      assert(norm(norm(x, f), f) == norm(x, f), s"$f on ${x.take(10)}")
  }

  test("norm_key folds accents, case, and form to one key") {
    assert(key("Caf" + eAcuteC) == "cafe")
    assert(key("caf" + eAcuteD) == "cafe")
    assert(key("CAFE") == "cafe")
    assert(key(aRingC + "ngstr\u00f6m") == "angstrom") // precomposed o-umlaut
    assert(key(aRingD + "ngstro\u0308m") == "angstrom") // decomposed o-umlaut
    assert(Seq("Caf" + eAcuteC, "caf" + eAcuteD, "CAF\u00c9",
      "CAFE\u0301", "cafe").map(key).distinct.size == 1)
    // non-Latin survives; OHM keys through NFC + lower
    assert(key("\u4e2d\u6587") == "\u4e2d\u6587")
    assert(key(ohm) == omegaL)
    // compat folds are NOT part of the key (NFC-based fold)
    assert(key(fiLig + "le") == fiLig + "le")
  }

  test("total: null, empty, unknown form") {
    assert(UnicodeNorm.norm(null, UTF8String.fromString("NFC")) == null)
    assert(UnicodeNorm.norm(UTF8String.fromString("x"), null) == null)
    assert(norm("x", "NFX") == null)
    assert(norm("", "NFC") == "")
    assert(UnicodeNorm.key(null) == null)
    assert(key("") == "")
  }

  test("expressions match the kernel through a real plan") {
    import spark.implicits._
    val rows = Seq(
      (1L, "caf" + eAcuteD + " " + fiLig + "le"),
      (2L, ohm + " CAF" + "\u00c9"),
      (3L, null.asInstanceOf[String]))
    val got = rows.toDF("id", "s")
      .select(col("id"),
        UnicodeNorm.unicode_norm(col("s"), "NFKC").as("n"),
        UnicodeNorm.norm_key(col("s")).as("k"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got(1L) == (("caf" + eAcuteC + " file", "cafe " + fiLig + "le")))
    assert(got(2L) == ((omegaU + " CAF\u00c9", omegaL + " cafe")))
    assert(got(3L) == ((null, null)))
  }
}
