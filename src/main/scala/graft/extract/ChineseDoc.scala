package graft.extract

import graft.model.CaseRecord
import graft.text.{Py, Scan}
import graft.text.Py.Rx

/** The dedicated Chinese-judgment path
  * (`/root/reference/chinese_document_extractor.py`). Routed when
  * `detect_language` says chinese AND `is_chinese_document` confirms
  * (`src/extractor.py:2683-2687`). */
object ChineseDoc {

  private[graft] val caseNumberPatterns = Seq(
    """(高院民事訴訟\s*\d+\s*年\s*第\s*\d+\s*號)""",
    """(民事訴訟案件(?:編號)?\s*\d+\s*年\s*第\s*\d+\s*號)""",
    """(香港特別行政區高等法院原訟法庭民事訴訟\s*\d+\s*年\s*第\s*\d+\s*號)""",
    """(民事訴訟\s*\d+\s*年\s*第\s*\d+\s*號)""",
    """(\d{4}\s*年\s*第\s*\d+\s*號)""",
    """案件編號\s*[：:]\s*([^\n]+年第[^\n]+號)""",
    """編號\s*[：:]\s*([^\n]+年第[^\n]+號)""")
    .map(Rx(_))

  /** `extract_chinese_case_number` + `_standardize_chinese_case_number`
    * (`chinese_document_extractor.py:35-90`). */
  def extractCaseNumber(doc: Scan): String =
    first(caseNumberPatterns, doc).map(m => standardizeCaseNumber(Py.strip(m))).getOrElse("")

  def standardizeCaseNumber(caseNumber: String): String = {
    if (caseNumber == null || caseNumber.isEmpty) return ""
    var std = Py.wsCollapse(Py.strip(caseNumber))
    Py.searchGroups("""(\d{4})\s*年\s*第\s*(\d+)\s*號""", std) match {
      case Some(g) =>
        val (year, number) = (g(1), g(2))
        std =
          if (!std.contains("民事訴訟")) s"民事訴訟 $year 年第 $number 號"
          else Py.sub("""(\d{4})\s*年\s*第\s*(\d+)\s*號""", s"$year 年第 $number 號", std)
      case None =>
    }
    std
  }

  private[graft] val courtNamePatterns = Seq(
    """(香港特別行政區高等法院原訟法庭)""",
    """(香港特別行政區高等法院)""",
    """(高等法院原訟法庭)""")
    .map(Rx(_))

  /** `extract_chinese_court_name` (`chinese_document_extractor.py:273-288`)
    * — note the hard default when nothing matches. */
  def extractCourtName(doc: Scan): String =
    first(courtNamePatterns, doc).getOrElse("香港特別行政區高等法院原訟法庭")

  private[graft] val trialDatePatterns = Seq(
    """(\d{4}\s*年\s*\d{1,2}\s*月\s*\d{1,2}\s*日)""",
    """聆訊日期\s*[：:]\s*([^\n]+)""",
    """判決日期\s*[：:]\s*([^\n]+)""",
    """審訊日期\s*[：:]\s*([^\n]+)""")
    .map(Rx(_))

  /** `extract_chinese_trial_date` (`chinese_document_extractor.py:290-310`)
    * — the hard-coded "2025 年2 月14 日" fallback is a documented reference
    * quirk, reproduced verbatim for parity. */
  def extractTrialDate(doc: Scan): String = {
    val first500Lines = Scan(Py.split(doc.text, "\n").take(500).mkString("\n"))
    first(trialDatePatterns, first500Lines).map(Py.strip).getOrElse("2025 年2 月14 日")
  }

  private[graft] val judgePatterns = Seq(
    """\(\s*([^)]+)\s*\)\s*高等法院.*?法官""",
    """([^\n\(]+?)\s+高等法院.*?法官""",
    """法官\s*[：:]\s*([^\n]+)""",
    """主審法官\s*[：:]\s*([^\n]+)""")
    .map(Rx(_))

  /** `extract_chinese_judge` + `_clean_judge_name`
    * (`chinese_document_extractor.py:187-226`). */
  def extractJudge(doc: Scan): String =
    judgePatterns.iterator.flatMap(_.search1(doc)).map(m => cleanJudgeName(Py.strip(m)))
      .find(_.nonEmpty).getOrElse("")

  /** The first match, in pattern order. */
  private def first(patterns: Seq[Rx], scan: Scan): Option[String] =
    patterns.iterator.flatMap(_.search1(scan)).nextOption()

  def cleanJudgeName(judgeName: String): String = {
    if (judgeName == null || judgeName.isEmpty) return ""
    var c = Py.sub("""(高等法院.*?法官|法官|：)""", "", judgeName)
    c = Py.strip(Py.wsCollapse(c))
    if (c.length >= 2 && c.length <= 10 && !Py.contains("""[a-zA-Z0-9]""", c)) c
    else ""
  }

  /** `_is_lawyer_info` (`chinese_document_extractor.py:165-170`). */
  def isLawyerInfo(text: String): Boolean =
    Seq("律師", "代表", "事務所", "無律師代表", "親自行事", "親自出庭").exists(text.contains)

  /** `_clean_party_name` (`chinese_document_extractor.py:172-185`). */
  def cleanPartyName(name: String): String = {
    if (name == null || name.isEmpty) return ""
    var c = Py.sub("""(無律師代表，親自行事|親自出庭應訊)""", "", name)
    c = Py.sub(""".*律師事務所.*代表""", "", c)
    c = Py.sub("""律師代表""", "", c)
    Py.strip(Py.wsCollapse(Py.strip(c)))
  }

  private[graft] val defendantPatterns = Seq(
    """第一被告人\s*[：:]\s*([^\n]+)""",
    """被告人\s*[：:]\s*([^\n]+)""")
    .map(Rx(_))

  /** `extract_chinese_parties` → `_extract_parties_from_footer`
    * (`chinese_document_extractor.py:92-163`) over the last 50 lines. The
    * content fallback is a no-op in the reference (returns "",""),
    * preserved. */
  def extractParties(footer: Scan): (String, String) = {
    val plaintiff = Py.search1("""原告人\s*[：:]\s*([^\n]+)""", footer.text).map(Py.strip)
      .filterNot(isLawyerInfo).map(cleanPartyName).getOrElse("")
    val defendant = defendantPatterns.iterator.flatMap(_.search1(footer)).map(Py.strip)
      .find(!isLawyerInfo(_)).map(cleanPartyName).getOrElse("")

    // A partial footer hit is DISCARDED: the reference only returns the
    // footer pair when both sides parsed (`chinese_document_extractor.py:
    // 98-100`); otherwise it falls through to the content extractor, which
    // always returns ("","") (`:148-163`), so the final answer is empty.
    if (plaintiff.nonEmpty && defendant.nonEmpty) (plaintiff, defendant)
    else ("", "")
  }

  private[graft] val defendantLawyerPatterns = Seq(
    """第一被告人\s*[：:]\s*([^\n]*律師[^\n]*)""",
    """被告人\s*[：:]\s*([^\n]*律師[^\n]*)""")
    .map(Rx(_))

  /** `extract_chinese_lawyers` (`chinese_document_extractor.py:228-263`)
    * over the last 50 lines. */
  def extractLawyers(footer: Scan): (String, String) = {
    val plaintiffLawyer = Py.search1("""原告人\s*[：:]\s*([^\n]*律師[^\n]*)""", footer.text) match {
      case Some(m) => Py.strip(Py.wsCollapse(Py.strip(m)))
      case None =>
        if (Py.contains("""原告人\s*[：:]\s*無律師代表，親自行事""", footer.text)) "無律師代表，親自行事"
        else ""
    }
    val defendantLawyer = first(defendantLawyerPatterns, footer)
      .map(m => Py.strip(Py.wsCollapse(Py.strip(m)))).getOrElse("")
    (plaintiffLawyer, defendantLawyer)
  }

  /** `process_chinese_document` (`chinese_document_extractor.py:312-363`). */
  def process(text: String, docId: String, fileName: String): CaseRecord =
    process(Scan(text), docId, fileName)

  def process(doc: Scan, docId: String, fileName: String): CaseRecord = {
    val footer = Scan(Py.split(doc.text, "\n").takeRight(50).mkString("\n"))
    val (plaintiff, defendant) = extractParties(footer)
    val (plaintiffLawyer, defendantLawyer) = extractLawyers(footer)
    CaseRecord(
      doc_id = docId,
      case_number = extractCaseNumber(doc),
      trial_date = extractTrialDate(doc),
      court_name = extractCourtName(doc),
      plaintiff = plaintiff,
      defendant = defendant,
      judge = extractJudge(doc),
      case_type = "",        // deferred to LLM stage in the reference
      lawyer = s"原告人: $plaintiffLawyer\n第一被告人: $defendantLawyer",
      judgment_result = "",
      claim_amount = "",
      judgment_amount = "",
      language = "chinese",
      document_type = LangDoc.determineChineseDocumentType(fileName),
      file_name = fileName,
      file_path = fileName,
      plaintiff_lawyer = Some(plaintiffLawyer),
      defendant_lawyer = Some(defendantLawyer))
  }
}
