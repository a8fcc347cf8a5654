package graft.extract

import graft.text.{Py, Scan}
import graft.text.Py.{I, Rx}

/** P15/P16/P17 — judge extraction and the two cleaning chains
  * (`/root/reference/src/extractor.py:1349-1592`).
  *
  * Several reference `re.sub` calls pass `re.IGNORECASE` positionally where
  * `count` is expected (`src/extractor.py:1462-1463,1534-1538,1541`), making
  * those substitutions case-SENSITIVE with at most 2 replacements; faithfully
  * mirrored here via `Py.subN(..., count = 2)`. */
object Judge {

  def extract(text: String, language: String): String = extract(Scan(text), language)

  def extract(scan: Scan, language: String): String =
    if (language == "english") extractEnglishJudge(scan)
    else extractChineseJudge(scan)

  // Each English pattern with the literal its matches require (Py.Rx guard).
  private[graft] val specialPatterns = Seq(
    Rx("""(?i)(?:mr\.?\s+|ms\.?\s+)?recorder\s+([A-Z][A-Za-z]+(?:\s+[A-Z][A-Za-z]+)+)(?:\s*,?\s*sc)?(?=\s+in\s+(?:court|chambers)|\n|$)""",
      guard = Seq("recorder")),
    Rx("""(?i)master\s+([A-Z][A-Za-z]+(?:\s+[A-Z][A-Za-z]+)+)(?=\s+in\s+(?:court|chambers)|\n|$)""",
      guard = Seq("master")),
    Rx("""\(([A-Z][A-Za-z]{2,}(?:\s+[A-Z][A-Za-z]+)*)\s*,?\s*sc?\)"""),
    Rx("""(?i)(?:deputy\s+(?:high\s+court\s+)?judge\s+|dhcj\s+)([A-Z][A-Za-z]+(?:\s+[A-Z][A-Za-z]+)+)(?:\s+sc)?(?=\s+in\s+(?:court|chambers)|\n|$)""",
      guard = Seq("judge", "dhcj")))

  private[graft] val beforePatterns = Seq(
    """(?i)before:\s*(?:the\s+hon(?:ourable)?\.\s+)?([A-Z][A-Za-z]+(?:\s+[A-Z][A-Za-z]+)+)(?:\s+j\.?)?(?=\s+in\s+(?:court|chambers)|\n)""",
    """(?i)before:\s*(?:deputy\s+(?:high\s+court\s+)?judge\s+)?([A-Z][A-Za-z]+(?:\s+[A-Z][A-Za-z]+)+)(?:\s+j\.?)?(?=\s+sitting|\n)""",
    """(?i)before:\s*([A-Z][A-Za-z]{2,}(?:\s+[A-Z][A-Za-z]+)*(?:\s+j\.?)?)""")
    .map(Rx(_, guard = Seq("before:")))

  private[graft] val alternativePatterns = Seq(
    Rx("""(?i)(deputy\s+(?:high\s+court\s+)?judge\s+[A-Z][A-Za-z]+(?:\s+[A-Z][A-Za-z]+)+)(?=\s+sitting|\s+in\s+(?:court|chambers)|\n)""",
      guard = Seq("judge")),
    Rx("""(?i)(justice\s+[A-Z][A-Za-z]+(?:\s+[A-Z][A-Za-z]+)+)(?=\s+sitting|\s+in\s+(?:court|chambers)|\n)""",
      guard = Seq("justice")),
    Rx("""(?i)(the\s+hon(?:ourable)?\.\s+[A-Z][A-Za-z]+(?:\s+[A-Z][A-Za-z]+)+\s+j\.?)(?=\s|\n)""",
      guard = Seq("hon")),
    Rx("""(?i)\(([A-Z][A-Za-z]{2,}(?:\s+[A-Z][A-Za-z]+)+)\s*\)\s*(?:deputy\s+high\s+court\s+)?judge\s+of\s+the\s+court""",
      guard = Seq("judge")),
    Rx("""(?i)\(([A-Z][A-Za-z]{2,}(?:\s+[A-Z][A-Za-z]+)+)\s*\)\s*recorder\s+of\s+the\s+high\s+court""",
      guard = Seq("recorder")))

  /** `_extract_english_judge` (`src/extractor.py:1356-1435`): special
    * formats, then `Before:` formats, then signature-block and title
    * formats; the first match that passes its tier's check and cleans to a
    * non-empty name wins (`findall()[0]` ≡ the first match). */
  def extractEnglishJudge(scan: Scan): String = {
    def first(patterns: Seq[Rx])(valid: String => Boolean): Option[String] =
      patterns.iterator.flatMap(_.search1(scan)).map(Py.strip).filter(valid)
        .map(cleanJudgeNameEnhanced).find(_.nonEmpty)
    first(specialPatterns)(raw => raw.length >= 3 &&
        !Py.matches("""^(?:to|at|in|on|for|and|or|the|of|with|from)$""", raw, I))
      .orElse(first(beforePatterns)(raw => raw.length >= 3 &&
        !Py.matches("""^(?:to|at|in|on|for|and|or|the|of|with|from|by|this|that|these|those)$""", raw, I) &&
        !Py.matches("""^(?:court|chambers|sitting|hearing|judgment|decision|order)$""", raw, I)))
      .orElse(first(alternativePatterns)(raw => raw.length >= 5 && raw.contains(" ") &&
        !Py.matches("""^(?:court|chambers|sitting|hearing|judgment|decision|order).*""", raw, I)))
      .getOrElse("")
  }

  private[graft] val chinesePatterns = Seq(
    """主審法官[：:]\s*([^\n]+)""",
    """審訊法官[：:]\s*([^\n]+)""",
    """(?:高等法院原訟法庭法官|法官)\s*([^\n\s]{2,10})""")
    .map(Rx(_))

  /** `_extract_chinese_judge` (`src/extractor.py:1437-1453`). */
  def extractChineseJudge(scan: Scan): String =
    chinesePatterns.iterator.flatMap(_.search1(scan)).map(m => cleanJudgeName(Py.strip(m)))
      .find(_.nonEmpty).getOrElse("")

  /** `_clean_judge_name` (`src/extractor.py:1455-1475`) — used only by the
    * Chinese path. Flags-as-count bug sites at :1462-1463 reproduced. */
  def cleanJudgeName(judgeRaw: String): String = {
    if (judgeRaw == null || judgeRaw.isEmpty) return ""
    var clean = Py.sub("""(?i)\b(?:deputy|high|court|judge|justice|the|hon\.?|honourable|mr|ms|mrs)\b\s*""", "", judgeRaw)
    clean = Py.subN("""\s*j\.?\s*$""", "", clean, 2)               // :1462 count=2, case-sensitive
    clean = Py.subN("""\s*(?:sitting|in|chambers)\s*.*$""", "", clean, 2) // :1463
    clean = Py.subRef("""(?i)^(?:hon\.?\s+)?(.+?)\s*j\.?\s*$""", """\1""", clean)
    clean = Py.strip(Py.wsCollapse(clean))
    if (clean.length >= 2 && clean.length <= 50 && !Py.matches("""^\d+$""", clean)) clean
    else ""
  }

  private val preInvalidPatterns = Seq(
    """^[A-Z]$""",
    """^[a-z]$""",
    """^[A-Za-z]{1,2}$""",
    """^\d+$""",
    """^[,.\s\-_:;]+$""",
    """(?i)^(?:to|at|in|on|for|and|or|the|of|with|from|by|if|is|as|be|it|he|she|we|they|this|that|these|those)$""",
    """(?i)^(?:court|chambers|sitting|hearing|judgment|judgement|decision|order|matter|case|action|appeal|application)$""",
    """(?i)^(?:before|after|during|while|when|where|what|who|how|why)$""",
    """(?i)^(?:granted|dismissed|allowed|refused|upheld|affirmed|reversed)$""",
    """(?i)^(?:plaintiff|defendant|applicant|respondent|appellant)$""",
    """^(?:held|gave|said|found|noted|stated|ordered|directed)$""",
    """^(?:[0-9]{1,4}|[ivxlc]+)$""",
    """(?i)^(?:must|shall|should|would|could|may|might|can|will)$""")

  private val invalidPatterns = Seq(
    """^[A-Za-z]{1,2}$""",
    """^\d+$""",
    """^[,.\s\-_:;]+$""",
    """(?i)^(?:to|at|in|on|for|and|or|the|of|with|from|by|if|is|as|be|it|he|she|we|they)$""",
    """(?i)^(?:court|chambers|sitting|hearing|judgment|judgement|decision|order|matter|case|action|appeal)$""",
    """(?i)^(?:before|after|during|while|when|where|what|who|how|why|shall|must|would|could)$""",
    """(?i)^(?:plaintiff|defendant|applicant|respondent|appellant|petitioner)$""",
    """(?i)^(?:granted|dismissed|allowed|refused|upheld|affirmed|reversed|held|gave|said|found)$""",
    """^[ivxlc]+$""",
    """(?i)^(?:less than|more than|between|among|within|without|unless|until|since|because)$""",
    """(?i)^(?:hearing|trial|motion|summons|application|appeal|judgment)s?$""",
    """(?i)^(?:inclusive|exclusive|interest|cost|costs|fee|fees)$""",
    """(?i)^(?:one|two|three|four|five|six|seven|eight|nine|ten|week|month|year|day)s?$""")

  /** `_clean_judge_name_enhanced` (`src/extractor.py:1477-1592`). */
  def cleanJudgeNameEnhanced(judgeRaw: String): String = {
    if (judgeRaw == null || judgeRaw.isEmpty) return ""
    var clean = Py.strip(judgeRaw)

    // Step 0: pre-validation — reject obviously wrong inputs
    if (preInvalidPatterns.exists(p => Py.matches(p, clean))) return ""

    // Step 1: unwrap common complete formats
    Py.search1("""(?i)^(?:the\s+)?hon\.?\s+(.+?)\s*j\.?\s*(?:in\s+(?:court|chambers).*)?$""", clean)
      .foreach(m => clean = Py.strip(m))
    Py.search1("""(?i)^(?:mr\.?\s+|ms\.?\s+)?recorder\s+(.+?)(?:\s*,?\s*sc)?(?:\s+in\s+(?:court|chambers).*)?$""", clean)
      .foreach(m => clean = Py.strip(m))
    Py.search1("""(?i)^master\s+(.+?)(?:\s+in\s+(?:court|chambers).*)?$""", clean)
      .foreach(m => clean = Py.strip(m))
    Py.search1("""(?i)^deputy\s+(?:high\s+court\s+)?judge\s+(.+?)(?:\s+in\s+(?:court|chambers).*)?$""", clean)
      .foreach(m => clean = Py.strip(m))
    Py.search1("""^\(([A-Za-z\s]+?)\s*,?\s*sc?\)$""", clean, I)
      .foreach(m => clean = Py.strip(m))

    // Step 2-4: trailing/leading titles — flags-as-count bug sites
    clean = Py.subN("""\s*,?\s*sc\s*$""", "", clean, 2)  // :1534 count=2, case-sensitive
    clean = Py.subN("""\s*j\.?\s*$""", "", clean, 2)     // :1535
    clean = Py.subN("""\s*(?:sitting|in|at)\s+(?:court|chambers).*$""", "", clean, 2) // :1538
    clean = Py.subN("""^(?:the\s+|hon\.?\s+|honourable\s+)""", "", clean, 2) // :1541

    // Step 5: whitespace and punctuation
    clean = Py.strip(Py.wsCollapse(clean))
    clean = Py.sub("""^[,\s]+|[,\s]+$""", "", clean)

    // Step 6: validation
    if (clean.isEmpty) return ""
    if (clean.length < 3 || clean.length > 50) return ""
    if (!Py.contains("""[A-Za-z]""", clean)) return ""
    if (invalidPatterns.exists(p => Py.matches(p, clean))) return ""
    if (!Py.contains("""[A-Z]""", clean)) return ""
    clean
  }
}
