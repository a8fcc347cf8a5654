package graft.extract

import java.util.Locale

import graft.text.{Py, Scan}
import graft.text.Py.{I, M, Rx, S}

/** P11/P12 — party extraction: DCCJ direct format, HCA BETWEEN-block split,
  * numbered-party parsing, smart formatting
  * (`/root/reference/src/extractor.py:714-1029`). */
object Parties {

  final case class Party(name: String, number: Option[Int])

  /** `_get_ordinal_suffix` (`src/extractor.py:3032-3037`). */
  def ordinalSuffix(num: Int): String = {
    val mod100 = num % 100
    if (mod100 >= 10 && mod100 <= 13) "th"
    else num % 10 match {
      case 1 => "st"
      case 2 => "nd"
      case 3 => "rd"
      case _ => "th"
    }
  }

  def extractPlaintiff(text: String, language: String, docType: String): String =
    extractPlaintiff(Scan(text), language, docType)

  def extractPlaintiff(scan: Scan, language: String, docType: String): String =
    if (language == "english") extractPlaintiffImproved(scan, docType)
    else extractChineseParty(scan, chinesePlaintiffPatterns, maxLen = 200)

  def extractDefendant(text: String, language: String, docType: String): String =
    extractDefendant(Scan(text), language, docType)

  def extractDefendant(scan: Scan, language: String, docType: String): String =
    if (language == "english") extractDefendantImproved(scan, docType)
    else extractChineseParty(scan, chineseDefendantPatterns, maxLen = 500)

  // --- Chinese fallback patterns (src/extractor.py:720-739, 789-810) ---

  private[graft] val chinesePlaintiffPatterns = Seq(
    """原告人\s*\n\s*([A-Za-z\s,]+?)(?=\n|\s*及\s*)""",
    """原告人\s*\n\s*([^\n]+?)(?=\s*第|\s*被告|\s*_)""",
    """(?:第一原告人|原告人)\s*[：:]\s*([^\n第被]+)""",
    """(?:第一原告人|原告人)\s*([A-Za-z\s,\.]+)(?=\s*第|\s*被告|\s*及)""",
    """原告[：:]\s*([^\n]+)""",
    """申請人[：:]\s*([^\n]+)""",
    """上訴人[：:]\s*([^\n]+)""",
    """第一原告人\s*([A-Za-z\s,]+)(?=\n|第二|第三|被告)""")
    .map(Rx(_))

  private[graft] val chineseDefendantPatterns = Seq(
    """第一被告人\s*\n?\s*([A-Za-z\s,]+?)(?=\s*第二被告人|\s*第三被告人|\s*_)""",
    """第一被告人\s*([A-Za-z\s,\.]+)(?=\s*第二|\s*第三|\s*_)""",
    """第三被告人\s*([^_\n]+?)(?=_|Before|Date|\s*$)""",
    """第三被告人\s*([^\n]+?)(?=\s*主審|\s*聆訊|\s*判)""",
    """(?:第一被告人|被告人)\s*[：:]\s*([^\n第原]+)""",
    """(?:被告|被申請人)\s*[：:]\s*([^\n]+)""",
    """被告[：:]\s*([^\n]+)""",
    """被申請人[：:]\s*([^\n]+)""",
    """被上訴人[：:]\s*([^\n]+)""",
    """(?:第一被告人|被告人)\s*([A-Za-z\s,]+)(?=\n|第二|第三|原告|Before)""")
    .map(Rx(_))

  /** The first pattern match that cleans to a plausible party name. */
  private def extractChineseParty(scan: Scan, patterns: Seq[Rx], maxLen: Int): String =
    patterns.iterator.flatMap(_.search1(scan))
      .map(raw => Py.sub("""^\s*[：:]\s*""", "", Py.wsCollapse(Py.strip(raw))))
      .find(v => v.length > 3 && v.length < maxLen && !Py.matches("""^\d+\s*$""", v))
      .getOrElse("")

  // --- English: DCCJ direct + HCA BETWEEN (src/extractor.py:741-855) ---

  private val partyTypes = Seq("Plaintiff", "Defendant")

  private[graft] val dccjPatterns: Map[String, Seq[Rx]] = partyTypes.map(t => t -> Seq(
    s"""([A-Z][A-Z\\s&\\.,\\(\\)]+?)\\s*\\n\\s*$t\\s*(?:\\n|$$)""",
    s"""([A-Z][A-Z\\s&\\.,\\(\\)]+?)\\s+$t\\s*(?:\\n|$$)""",
    s"""([A-Z][A-Z\\s&\\.,\\(\\)\\-]+?)\\s*\\n\\s*$t""",
    s"""([A-Z][A-Z\\s&\\.,\\(\\)\\-]+?)\\s+$t""").map(Rx(_, M))).toMap

  private def dccjExtract(scan: Scan, partyType: String): String =
    dccjPatterns(partyType).iterator.flatMap(_.findAll(scan))
      .map(m => Py.sub("""^and\s+""", "", Py.wsCollapse(Py.strip(m)), I))
      .find(c => c.length > 3 && c.length < 100)
      .getOrElse("")

  private[graft] val betweenPattern = Rx("""BETWEEN\s*(.*?)\s*(?=Before:|__________|Date|主審)""", S | I)

  /** The BETWEEN block split at its first AND: the two sides, stripped. */
  private def betweenSides(scan: Scan): Option[(String, String)] =
    betweenPattern.search1(scan).flatMap { between =>
      val content = Py.strip(between)
      Py.searchSpan("""\s+AND\s+""", content, I).map { case (start, end) =>
        (Py.strip(Py.sliceTo(content, start)), Py.strip(Py.sliceFrom(content, end)))
      }
    }

  private def extractPlaintiffImproved(scan: Scan, docType: String): String =
    if (docType == "DCCJ") dccjExtract(scan, "Plaintiff")
    else betweenSides(scan).fold("") { case (before, _) =>
      formatPartiesSmart(extractPartiesRobust(before, "Plaintiff"), "Plaintiff")
    }

  private def extractDefendantImproved(scan: Scan, docType: String): String =
    if (docType == "DCCJ") dccjExtract(scan, "Defendant")
    else betweenSides(scan).fold("") { case (_, after) =>
      val section = Py.strip(Py.sub("""_{5,}.*$""", "", after, S))
      formatPartiesSmart(extractPartiesRobust(section, "Defendant"), "Defendant")
    }

  /** `_extract_parties_robust` (`src/extractor.py:857-872`). */
  def extractPartiesRobust(section: String, partyType: String): List[Party] = {
    val numbered = extractNumberedPartiesEnhanced(section, partyType)
    if (numbered.nonEmpty) numbered
    else extractSimpleParty(section, partyType).toList
  }

  private val nameCls = """[A-Za-z\s,\.\(\)&\-\'（）]"""

  private val numberedPatterns: Map[String, Seq[String]] = partyTypes.map(t => t -> Seq(
    // name above, ordinal below
    s"""([A-Z]$nameCls+?(?:\\([^)]*\\))?(?:（[^）]*）)?)\\s*\\n\\s*(\\d+)(?:st|nd|rd|th)\\s+$t""",
    // same line
    s"""([A-Z]$nameCls+?(?:\\([^)]*\\))?(?:（[^）]*）)?)\\s+(\\d+)(?:st|nd|rd|th)\\s+$t""",
    // reversed: ordinal first
    s"""(\\d+)(?:st|nd|rd|th)\\s+$t\\s*\\n\\s*([A-Z]$nameCls+?(?:\\([^)]*\\))?(?:（[^）]*）)?)""",
    // unnumbered
    s"""([A-Z]$nameCls+?(?:\\([^)]*\\))?(?:（[^）]*）)?)\\s+$t(?!\\s*\\d)""")).toMap

  /** `_extract_numbered_parties_enhanced` (`src/extractor.py:874-939`):
    * 4 ordered multi-line patterns; first pattern family with hits wins;
    * dedupe by name (first occurrence), stable sort by ordinal (None→0). */
  def extractNumberedPartiesEnhanced(section: String, partyType: String): List[Party] = {
    val parties = numberedPatterns(partyType).iterator.zipWithIndex.map { case (p, idx) =>
      Py.findAllGroups(p, section, I | M).flatMap { g =>
        val (name, number) = idx match {
          case 2 => (g(1), Some(g(0))) // ordinal first
          case 3 => (g(0), None)       // unnumbered
          case _ => (g(0), Some(g(1)))
        }
        val clean = cleanPartyName(name)
        if (clean.nonEmpty) Some(Party(clean, number.map(_.toInt))) else None
      }
    }.find(_.nonEmpty).getOrElse(Nil)

    // Dedupe by name preserving first, stable sort by ordinal (None→0)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    val unique = parties.filter(p => seen.add(p.name))
    unique.sortBy(_.number.getOrElse(0))
  }

  /** `_extract_simple_party` (`src/extractor.py:941-960`). */
  def extractSimpleParty(section: String, partyType: String): Option[Party] = {
    var clean = Py.wsCollapse(Py.strip(section))
    clean = Py.sub(s"""\\s*$partyType\\s*$$""", "", clean, I)
    clean = Py.sub("""\s*(?:and|&)\s*$""", "", clean, I)
    if (isValidPartyName(clean)) Some(Party(clean, None)) else None
  }

  /** `_clean_party_name` (`src/extractor.py:962-981`). */
  def cleanPartyName(name: String): String = {
    if (name == null || name.isEmpty) return ""
    var clean = Py.wsCollapse(Py.strip(name))
    clean = Py.sub("""^(?:and\s+|&\s+)""", "", clean, I)
    clean = Py.sub("""\s*(?:and|&)\s*$""", "", clean, I)
    clean = Py.sub("""^[,\s]+|[,\s]+$""", "", clean)
    if (isValidPartyName(clean)) clean else ""
  }

  private val badPartyWords = Set(
    "and", "or", "the", "a", "an", "in", "on", "at", "to", "for", "of",
    "with", "before", "after", "during", "plaintiff", "defendant", "court",
    "judge", "chambers", "sitting", "hearing", "date", "action", "case")

  /** `_is_valid_party_name` (`src/extractor.py:983-1009`). */
  def isValidPartyName(name: String): Boolean = {
    if (name == null || name.length < 2) return false
    if (name.length > 200) return false
    if (!Py.contains("""[A-Za-z]""", name)) return false
    if (Py.matches("""^\d+$""", name)) return false
    if (badPartyWords.contains(Py.strip(name.toLowerCase(Locale.ROOT)))) return false
    true
  }

  /** `_format_parties_smart` (`src/extractor.py:1011-1029`): 1 party → bare
    * name; n>1 → `"name (1st Type)"` joined with `' | '`. */
  def formatPartiesSmart(parties: List[Party], partyType: String): String = {
    if (parties.isEmpty) ""
    else if (parties.length == 1) parties.head.name
    else parties.map {
      case Party(n, Some(num)) => s"$n ($num${ordinalSuffix(num)} $partyType)"
      case Party(n, None)      => s"$n ($partyType)"
    }.mkString(" | ")
  }
}
