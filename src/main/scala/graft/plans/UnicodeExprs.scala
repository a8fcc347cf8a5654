package graft.plans

import java.text.Normalizer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization (UAX #15) as native codegen'd expressions — the
  * scrub step fuzzy dedup depends on: the same visible text can arrive
  * precomposed (U+00E9) or decomposed (e + U+0301), and every
  * hash-keyed stage downstream (exact dedup, minhash shingles, simhash,
  * fingerprints) treats those byte sequences as different documents
  * unless normalization runs first. Spark has no builtin for this.
  *
  *  - `unicode_norm(text, form)` — form in NFC|NFD|NFKC|NFKD (foldable),
  *    via the JDK's `java.text.Normalizer` (the full UCD tables ship in
  *    the JDK; re-deriving canonical ordering + composition from the
  *    data files would duplicate a public standard library).
  *  - `norm_key(text)` — the dedup-key fold used by CCNet-lineage
  *    pipelines: NFC → lowercase(ROOT) → NFD → drop combining marks →
  *    NFC ("café", "Café", "café" all key to "cafe"). Exactly
  *    replayable in SQL as `strip_accents(lower(nfc_normalize(x)))`.
  *
  * Shape at 100 TB: pure per-row scan-stage kernels inside whole-stage
  * codegen, zero shuffle, predicate-pushdown-transparent. */
object UnicodeNorm {

  /** `unicode_norm(text, form)` — UAX #15 normalization to a named form.
    * Null for NON-NULL input when the form is unknown, so the table entry
    * is null-on-non-null. */
  def norm(s: UTF8String, form: UTF8String): UTF8String = {
    if (s == null || form == null) return null
    val f = form.toString.toUpperCase(java.util.Locale.ROOT) match {
      case "NFC" => Normalizer.Form.NFC
      case "NFD" => Normalizer.Form.NFD
      case "NFKC" => Normalizer.Form.NFKC
      case "NFKD" => Normalizer.Form.NFKD
      case _ => return null
    }
    UTF8String.fromString(Normalizer.normalize(s.toString, f))
  }

  /** `norm_key(text)` — accent/case/form-insensitive dedup key:
    * NFC → lower(ROOT) → NFD → strip Mn/Me/Mc marks → NFC. */
  def key(s: UTF8String): UTF8String = {
    if (s == null) return null
    val lowered = Normalizer.normalize(s.toString, Normalizer.Form.NFC)
      .toLowerCase(java.util.Locale.ROOT)
    val d = Normalizer.normalize(lowered, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(d.length)
    var i = 0
    while (i < d.length) {
      val cp = d.codePointAt(i)
      val t = Character.getType(cp)
      if (t != Character.NON_SPACING_MARK && t != Character.ENCLOSING_MARK &&
          t != Character.COMBINING_SPACING_MARK) sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    UTF8String.fromString(Normalizer.normalize(sb.toString, Normalizer.Form.NFC))
  }

  def register(spark: SparkSession): Unit = NativeFunctions.register(spark, this)

  def unicode_norm(c: Column, form: String): Column =
    call_function("unicode_norm", c, org.apache.spark.sql.functions.lit(form))
  def norm_key(c: Column): Column = call_function("norm_key", c)
}
