package graft.extract

import java.util.Locale

import graft.model.CaseRecord
import graft.text.{Py, Scan}
import graft.text.Py.I

/** P26 — corrigendum routing and detail extraction
  * (`/root/reference/src/extractor.py:2746-2827`). */
object Corrigendum {

  final case class Details(
      correctedDocumentType: Option[String],
      originalDocumentDate: Option[String],
      corrigendumDate: Option[String],
      correctionSummary: String)

  private val originalDatePatterns = Seq(
    """corrigendum in the (Judgment|Decision) dated (\d{1,2} \w+ \d{4})""",
    """in the (Judgment|Decision) dated (\d{1,2} \w+ \d{4})""")

  /** `_extract_corrigendum_details` (`src/extractor.py:2774-2827`). */
  def extractDetails(text: String): Details = {
    // (document type, date) of the first pattern that matches
    val original = originalDatePatterns.iterator.flatMap(Py.searchGroups(_, text, I)).nextOption()

    val corrigendumDate =
      Py.search1("""Date of Corrigendum:\s*(\d{1,2} \w+ \d{4})""", text)

    // Correction summaries: ≤2 per pattern, appended across patterns
    val corrections = scala.collection.mutable.ListBuffer.empty[String]
    // pattern 1: two groups → "A → B"
    for (g <- Py.findAllGroups("""At page \d+.*?"([^"]+)" be corrected to "([^"]+)"""", text, I).take(2))
      corrections += s"${g(0)} → ${g(1)}"
    // pattern 2: one group
    for (m <- Py.findAll("""should read:?\s*"([^"]+)"""", text, I).take(2))
      corrections += m
    // pattern 3: zero groups → whole match
    for (m <- Py.findAll("""The names of.*?are added""", text, I).take(2))
      corrections += m
    // pattern 4: one group
    for (m <- Py.findAll("""corrected to\s*"([^"]+)"""", text, I).take(2))
      corrections += m

    val summary =
      if (corrections.nonEmpty) corrections.take(2).mkString("; ")
      else {
        val lower = text.toLowerCase(Locale.ROOT)
        if (lower.contains("names") && lower.contains("added")) "添加律师姓名"
        else if (lower.contains("corrected")) "文字更正"
        else "格式或内容更正"
      }

    Details(original.map(_(1)), original.map(_(2)), corrigendumDate, summary)
  }

  /** `_extract_corrigendum_information` (`src/extractor.py:2746-2772`):
    * base fields extracted on the FULL text, doc_type forced to
    * 'Corrigendum', amounts blanked. */
  def extract(text: String, docId: String, fileName: String, language: String): CaseRecord =
    extract(Scan(text), docId, fileName, language)

  def extract(doc: Scan, docId: String, fileName: String, language: String): CaseRecord = {
    val details = extractDetails(doc.text)
    CaseRecord(
      doc_id = docId,
      case_number = CaseNumber.extract(doc, language),
      trial_date = TrialDate.extract(doc, language),
      court_name = CourtName.extract(doc, language),
      plaintiff = Parties.extractPlaintiff(doc, language, "Corrigendum"),
      defendant = Parties.extractDefendant(doc, language, "Corrigendum"),
      judge = "",
      case_type = "Corrigendum Document",
      lawyer = "",
      judgment_result = "N/A - Corrigendum",
      claim_amount = "",
      judgment_amount = "",
      language = language,
      document_type = "Corrigendum",
      file_name = fileName,
      file_path = fileName,
      corrected_document_type = details.correctedDocumentType,
      original_document_date = details.originalDocumentDate,
      corrigendum_date = details.corrigendumDate,
      correction_summary = Some(details.correctionSummary))
  }
}
