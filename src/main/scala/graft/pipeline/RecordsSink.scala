package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode}

import graft.model.CaseRecord

/** S4/S5 sinks for extraction records.
  *
  * Bulk paths are plain distributed writers; [[writeReferenceStyleJson]]
  * reproduces the reference's exact file shape — a JSON array of objects
  * with its insertion key order and non-ASCII characters unescaped
  * (`json.dump(..., ensure_ascii=False, indent=2)`,
  * `/root/reference/src/processor.py:156-161`) — for byte-stable golden
  * comparisons at small scale (records are canonically ordered by
  * file_name; Spark output order is otherwise undefined, SURVEY.md §2.6 O5).
  */
object RecordsSink {

  /** Reference record key order (`src/extractor.py:2709-2732`). */
  private val keyOrder = Seq(
    "case_number", "trial_date", "court_name", "plaintiff", "defendant",
    "judge", "case_type", "lawyer", "judgment_result", "claim_amount",
    "judgment_amount", "language", "document_type", "file_name", "file_path")

  def writeJson(records: DataFrame, path: String): Unit =
    records.write.mode(SaveMode.Overwrite).json(path)

  /** CSV with header (the reference's pandas `to_csv` analogue; the
    * utf-8-sig BOM is a pandas artifact we do not reproduce here — the
    * distributed part files couldn't each carry one. See
    * [[writeExcelCompatibleCsv]] for the BOM'd single-file form). */
  def writeCsv(records: DataFrame, path: String): Unit =
    records.write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)

  /** S6 — Excel-compatible CSV export (UTF-8 BOM via the reference's own
    * `encoding='utf-8-sig'`, `src/processor.py:166`, CRLF row ends, all
    * fields quoted). The TRUE binary `.xlsx` form of S6 is
    * [[XlsxSink.writeXlsx]] (hand-written OOXML over `java.util.zip` — no
    * spreadsheet library needed after all). Driver-side single file — small
    * corpora only (the reference's sink also materializes the whole
    * DataFrame driver-side); use [[writeCsv]] for bulk. */
  def writeExcelCompatibleCsv(records: DataFrame, file: String): Unit = {
    val cols = records.columns
    def q(s: String): String =
      "\"" + (if (s == null) "" else s).replace("\"", "\"\"") + "\""
    val sb = new StringBuilder("\ufeff")
    sb.append(cols.map(q).mkString(",")).append("\r\n")
    records.collect().foreach { r =>
      sb.append(cols.indices.map { i =>
        q(Option(r.get(i)).map(_.toString).orNull)
      }.mkString(",")).append("\r\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(file),
      sb.toString.getBytes("UTF-8"))
  }

  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append("\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt))
      case c => sb.append(c) // ensure_ascii=False: keep non-ASCII raw
    }
    sb.toString
  }

  /** One record in the reference's JSON shape (2-space indent inside the
    * object, keys in reference order, optional keys only when present). */
  def renderRecord(r: CaseRecord): String = {
    val base = Seq(
      "case_number" -> Some(r.case_number),
      "trial_date" -> Some(r.trial_date),
      "court_name" -> Some(r.court_name),
      "plaintiff" -> Some(r.plaintiff),
      "defendant" -> Some(r.defendant),
      "judge" -> Some(r.judge),
      "case_type" -> Some(r.case_type),
      "lawyer" -> Some(r.lawyer),
      "judgment_result" -> Some(r.judgment_result),
      "claim_amount" -> Some(r.claim_amount),
      "judgment_amount" -> Some(r.judgment_amount),
      "language" -> Some(r.language),
      "document_type" -> Some(r.document_type),
      "file_name" -> Some(r.file_name),
      "file_path" -> Some(r.file_path),
      "plaintiff_lawyer" -> r.plaintiff_lawyer,
      "defendant_lawyer" -> r.defendant_lawyer,
      "corrected_document_type" -> r.corrected_document_type,
      "original_document_date" -> r.original_document_date,
      "corrigendum_date" -> r.corrigendum_date,
      "correction_summary" -> r.correction_summary)
    base.collect { case (k, Some(v)) =>
      s"""    "${k}": "${jsonEscape(if (v == null) "" else v)}""""
    }.mkString("  {\n", ",\n", "\n  }")
  }

  /** The full reference-style file: canonical order by file_name, then by
    * doc_id for stability. Driver-side materialization — small corpora only
    * (golden parity checks); use [[writeJson]] for bulk. */
  def referenceStyleJson(records: Dataset[CaseRecord]): String = {
    val rows = records.collect().sortBy(r => (r.file_name, r.doc_id))
    rows.map(renderRecord).mkString("[\n", ",\n", "\n]")
  }

  private[graft] def referenceKeyOrder: Seq[String] = keyOrder
}
