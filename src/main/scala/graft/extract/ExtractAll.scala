package graft.extract

import graft.model.{CaseRecord, Doc, OutSpans, Span}
import graft.text.Scan

/** P27 — top-level per-document extraction: the single `Doc => CaseRecord`
  * pass mirroring `extract_information`
  * (`/root/reference/src/extractor.py:2665-2732`), plus the span-level
  * output contract.
  *
  * Full text reconstruction follows the reference's page join: each page's
  * text + "\n" concatenated (`src/extractor.py:82-93`), then the
  * margin-index cleaner (P1) — which only ever removes a *prefix* of lines.
  * The output span sequence applies that prefix cut back onto the per-page
  * spans: text spans lose the dropped leading characters (a span fully
  * inside the cut is dropped), media spans pass through unchanged, order
  * (by original position) is preserved.
  */
object ExtractAll {

  /** Null-safe view of a doc's spans: missing array → empty; null fields →
    * "" — the analogue of the reference's per-page error tolerance
    * (`src/extractor.py:85-91`, skipped pages never fail the document). */
  def safeSpans(doc: Doc): Seq[Span] = {
    val ss = if (doc.spans == null) Seq.empty[Span] else doc.spans
    ss.map { s =>
      Span(
        if (s.kind == null) "" else s.kind,
        if (s.text == null) "" else s.text,
        if (s.media_ref == null) "" else s.media_ref,
        s.offset)
    }
  }

  /** The reference joins page texts with a trailing newline each. */
  def fullText(doc: Doc): String = {
    val sb = new java.lang.StringBuilder
    safeSpans(doc).foreach { s =>
      if (s.kind == "text") { sb.append(s.text); sb.append('\n') }
    }
    sb.toString
  }

  /** Cleaned span sequence: prefix-cut from [[Cleaners.cleanPdfIndexArtifacts]]
    * distributed over the text spans; media spans preserved in order. */
  def outSpans(doc: Doc): OutSpans = {
    val raw = fullText(doc)
    val cleaned = if (raw.isEmpty) raw else Cleaners.cleanPdfIndexArtifacts(raw)
    // Invariant: cleaned is a suffix of raw (the cleaner only drops leading
    // lines). Guard anyway: if not, fall back to no cut.
    var cut = raw.length - cleaned.length
    if (cut < 0 || !raw.endsWith(cleaned)) cut = 0

    val out = Seq.newBuilder[Span]
    var consumed = 0L
    safeSpans(doc).foreach { s =>
      if (s.kind == "media") {
        out += s
      } else {
        val contribLen = s.text.length + 1L // text + "\n"
        val dropHere = math.max(0L, math.min(contribLen, cut - consumed))
        consumed += contribLen
        if (dropHere < contribLen) {
          // Remaining part of this page's contribution; strip the synthetic
          // trailing "\n" (it survives whenever dropHere < contribLen since
          // the newline is the last char of the contribution).
          val kept = s.text.substring(
            math.min(s.text.length, dropHere.toInt))
          out += s.copy(text = kept)
        }
        // else: page fully inside the cut → dropped
      }
    }
    OutSpans(doc.doc_id, out.result())
  }

  /** S3 — the page-tagged full-text view (`direct_llm_extractor.py:126-133`):
    * every non-empty page rendered between `\n=== PAGE n ===\n` and
    * `\n=== END PAGE n ===\n` markers. Page numbers come from the enumerate
    * index over ALL pages (text spans here), so an empty page skips its
    * number without emitting markers — exactly the reference's
    * `if page_text:` guard. Media spans are not pages. */
  def renderWithPageMarkers(doc: Doc): String = {
    val sb = new java.lang.StringBuilder
    var page = 0
    safeSpans(doc).foreach { s =>
      if (s.kind == "text") {
        page += 1
        if (s.text.nonEmpty) {
          sb.append(s"\n=== PAGE $page ===\n")
          sb.append(s.text)
          sb.append(s"\n=== END PAGE $page ===\n")
        }
      }
    }
    sb.toString
  }

  /** `extract_information` (`src/extractor.py:2665-2732`) on the cleaned
    * full text. Returns None when the text is empty — the reference's
    * `process_pdf` treats empty text as a failed document
    * (`src/extractor.py:2833-2836`). */
  def extractRecord(doc: Doc): Option[CaseRecord] = {
    val raw = fullText(doc)
    if (raw.isEmpty) return None
    val text = Cleaners.cleanPdfIndexArtifacts(raw)
    if (text.isEmpty) return None
    val fileName = doc.doc_id + ".pdf"
    Some(extractInformation(text, doc.doc_id, fileName))
  }

  def extractInformation(text: String, docId: String, fileName: String): CaseRecord = {
    val language = LangDoc.detectLanguage(text)
    // one view of the document (and so one case fold) for every field
    val doc = Scan(text)

    // Chinese router (src/extractor.py:2683-2687)
    if (language == "chinese" && LangDoc.isChineseDocument(text))
      return ChineseDoc.process(doc, docId, fileName)

    val docType = LangDoc.detectDocumentType(fileName)

    // Corrigendum router (src/extractor.py:2693-2695)
    if (LangDoc.isCorrigendum(text))
      return Corrigendum.extract(doc, docId, fileName, language)

    // Layer 1: first ~4 pages (15000 chars) for the basic fields
    val firstPages = doc.window(15000)

    CaseRecord(
      doc_id = docId,
      case_number = CaseNumber.extract(firstPages, language),
      trial_date = TrialDate.extract(firstPages, language),
      court_name = CourtName.extract(firstPages, language),
      plaintiff = Parties.extractPlaintiff(firstPages, language, docType),
      defendant = Parties.extractDefendant(firstPages, language, docType),
      judge = Judge.extract(firstPages, language),
      case_type = CaseType.extract(firstPages, language, docType),
      // Layer 2: lawyer segment from the document tail
      lawyer = Lawyers.extractLawyerSegment(doc, language),
      // Layer 3: full-text / positional fields
      judgment_result = JudgmentResult.extract(doc, language),
      claim_amount = Amounts.extract(doc, language, "claim"),
      judgment_amount = Amounts.extract(doc, language, "judgment"),
      language = language,
      document_type = docType,
      file_name = fileName,
      file_path = fileName)
  }
}
