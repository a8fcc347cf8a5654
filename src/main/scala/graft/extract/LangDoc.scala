package graft.extract

import java.util.Locale

import graft.text.Py

/** P2/P3/P4/P5 — language detection, Chinese-document routing, document-type
  * detection, corrigendum detection. */
object LangDoc {

  /** `detect_language` (`src/extractor.py:237-252`): the first 200
    * whitespace tokens contain 被告 → chinese, else english. */
  def detectLanguage(text: String): String = {
    if (text == null || text.isEmpty) return "english"
    val analysis = Py.splitWsLimit(text, 200).mkString(" ")
    if (analysis.contains("被告")) "chinese" else "english"
  }

  /** `ChineseDocumentExtractor.is_chinese_document`
    * (`chinese_document_extractor.py:380-402`): CJK ratio over the first
    * 1000 chars > 0.1 OR ≥2 keyword hits. */
  def isChineseDocument(text: String): Boolean = {
    if (text == null || text.isEmpty) return false
    val sample = Py.sliceTo(text, 1000)
    val total = sample.length
    if (total == 0) return false
    val chineseChars = Py.findAll("""[一-鿿]""", sample).length
    val ratio = chineseChars.toDouble / total
    val keywords = Seq("被告", "原告", "法官", "高等法院", "判決", "訴訟")
    val hits = keywords.count(sample.contains)
    ratio > 0.1 || hits >= 2
  }

  /** `detect_document_type` (`src/extractor.py:2655-2663`) — filename
    * contains one of 11 codes, *in this order* (so HCAL filenames classify
    * as HCA — a reference quirk preserved deliberately). */
  private val docTypes = Seq("HCA", "HCAL", "CACC", "CAMP", "CACV", "DCCC",
    "DCMP", "DCCJ", "LD", "HC", "FCMC")

  def detectDocumentType(fileName: String): String = {
    if (fileName != null && fileName.nonEmpty) {
      val up = fileName.toUpperCase(Locale.ROOT)
      docTypes.find(up.contains).getOrElse("GENERIC")
    } else "GENERIC"
  }

  /** `ChineseDocumentExtractor._determine_document_type`
    * (`chinese_document_extractor.py:365-378`). */
  def determineChineseDocumentType(fileName: String): String = {
    if (fileName == null || fileName.isEmpty) return "HCA"
    val up = fileName.toUpperCase(Locale.ROOT)
    if (up.contains("HCA")) "HCA"
    else if (up.contains("HCAL")) "HCAL"
    else if (up.contains("HCMP")) "HCMP"
    else "HCA"
  }

  /** `_is_corrigendum_document` (`src/extractor.py:2734-2744`). */
  private val corrigendumIndicators = Seq(
    "CORRIGENDUM",
    "C O R R I G E N D U M",
    "corrigendum in the Judgment",
    "corrigendum in the Decision",
    "Please note the following corrigendum")

  def isCorrigendum(text: String): Boolean =
    corrigendumIndicators.exists(text.contains)
}
