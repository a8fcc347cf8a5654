package graft.extract

import java.util.Locale

import graft.text.Py

/** P1 — margin-index boilerplate strip.
  * Semantics of `_clean_pdf_index_artifacts`
  * (`/root/reference/src/extractor.py:146-235`): court-judgment PDFs print a
  * margin index of single-letter lines (A, B, C, …); runs of ≥15 such lines
  * before the first content line are cut, guarded so a document whose first
  * 50 lines already contain critical court keywords is never touched.
  * The cleaner only ever removes a *prefix* of lines — downstream span
  * reconstruction depends on that invariant (see [[graft.extract.ExtractAll]]).
  */
object Cleaners {

  private val criticalKeywords = Seq(
    "IN THE HIGH COURT", "IN THE DISTRICT COURT", "ACTION NO",
    "CIVIL ACTION NO", "COURT OF FIRST INSTANCE", "HCA", "DCCJ", "BETWEEN",
    "PLAINTIFF", "DEFENDANT")

  private val contentKeywords = Seq(
    "HCA", "HKCFI", "HIGH COURT", "COURT OF", "BETWEEN", "PLAINTIFF",
    "DEFENDANT", "ACTION NO")

  private val validateKeywords =
    Seq("HIGH COURT", "COURT", "PLAINTIFF", "DEFENDANT", "BETWEEN", "HCA")

  private val fallbackKeywords =
    Seq("HCA", "HKCFI", "HIGH COURT", "COURT OF FIRST", "ACTION NO")

  def cleanPdfIndexArtifacts(text: String): String = {
    if (text == null || text.isEmpty) return text

    val lines = Py.split(text, "\n")

    // Protect first-page content: skip cleaning entirely when the first 50
    // lines contain critical court information (src/extractor.py:157-167).
    val early = lines.take(50).mkString("\n").toUpperCase(Locale.ROOT)
    if (criticalKeywords.exists(early.contains)) return text

    var consecutive = 0
    var contentStart = -1
    var maxConsecutive = 0

    var i = 0
    var break = false
    while (i < lines.length && !break) {
      val stripped = Py.strip(lines(i))
      if (Py.matches("""^[A-Z]\s*$""", stripped)) {
        consecutive += 1
        maxConsecutive = math.max(maxConsecutive, consecutive)
      } else if (consecutive > 0) {
        val up = stripped.toUpperCase(Locale.ROOT)
        if (maxConsecutive >= 15 && contentKeywords.exists(up.contains)) {
          contentStart = i
          break = true
        } else if (stripped.isEmpty) {
          // blank line inside the index run: keep counting
        } else {
          consecutive = 0
        }
      }
      i += 1
    }

    if (maxConsecutive >= 10 && contentStart > 0) {
      val cleaned = lines.drop(contentStart).mkString("\n")
      if (cleaned.length > 200 &&
          validateKeywords.exists(cleaned.toUpperCase(Locale.ROOT).contains))
        return cleaned
    }

    // Fallback: >30 single-letter lines among the first 100 → cut at the
    // first line with a strong court keyword, require ≥500 chars remaining
    // (src/extractor.py:213-232).
    if (lines.length > 50) {
      val singleLetterCount = lines.take(math.min(100, lines.length))
        .count(l => Py.matches("""^[A-Z]\s*$""", Py.strip(l)))
      if (singleLetterCount > 30) {
        var j = 0
        while (j < lines.length) {
          val up = Py.strip(lines(j)).toUpperCase(Locale.ROOT)
          if (fallbackKeywords.exists(up.contains)) {
            val cleaned = lines.drop(j).mkString("\n")
            if (cleaned.length > 500) return cleaned
          }
          j += 1
        }
      }
    }

    text
  }
}
