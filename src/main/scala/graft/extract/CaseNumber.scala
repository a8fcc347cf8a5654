package graft.extract

import java.util.Locale

import graft.text.{Py, Scan}
import graft.text.Py.{I, Rx}

/** P8/P10 — case-number extraction: the stateful ACTION-line scan
  * (`/root/reference/src/extractor.py:439-567`) and the positioned Chinese
  * path (`src/extractor.py:663-708`). */
object CaseNumber {

  private[graft] val chinesePatterns = Seq(
    """(高院民事訴訟\s*\d+\s*年\s*第\s*\d+[A-Z]?\s*號)""",
    """((?:高院)?民事訴訟案件(?:編號)?\s*\d+\s*年\s*第\s*\d+[A-Z]?\s*號)""",
    """(ACTION NO\.?\s*\d+[A-Z]?\s+OF\s+\d{4})""",
    """(HCA\d{6}[A-Z]?_\d{4})""",
    """(HCA\s+\d+[A-Z]?/\d{4})""")
    .map(Rx(_))

  def extract(text: String, language: String): String = extract(Scan(text), language)

  def extract(scan: Scan, language: String): String = {
    val firstPages = scan.window(15000)
    if (language == "english") {
      val direct = extractActionLineDirectly(firstPages.text)
      if (direct.nonEmpty) direct
      // Fallback: HCA n/yyyy → ACTION NO n OF yyyy (src/extractor.py:449-454)
      else Py.searchGroups("""HCA\s+(\d+[A-Z]?)/(\d{4})""", firstPages.text, I)
        .fold("")(g => s"ACTION NO ${g(1)} OF ${g(2)}")
    } else {
      val positioned = extractChineseCaseNumberPositioned(scan.text)
      if (positioned.nonEmpty) positioned
      else chinesePatterns.iterator.flatMap(_.search1(firstPages))
        .map(m => Py.wsCollapse(Py.strip(m))).nextOption().getOrElse("")
    }
  }

  /** `_extract_action_line_directly` (`src/extractor.py:482-567`) over the
    * text's first 15000 chars — a line-level stateful scan with split-year
    * repair; not expressible as a single regex, kept as pure Scala inside
    * the typed kernel. */
  def extractActionLineDirectly(firstPages: String): String = {
    val lines = Py.split(firstPages, "\n")

    def fixups(s: String): String = {
      var c = s
      c = Py.sub("""ACTION\s+N\s+O\b""", "ACTION NO", c, I)
      c = Py.sub("""NO\s*\.\s*""", "NO ", c, I)
      c
    }

    var i = 0
    while (i < lines.length) {
      val line = Py.strip(lines(i))
      if (line.toUpperCase(Locale.ROOT).startsWith("ACTION")) {
        if (Py.matches("""ACTION\s+(?:N\s+)?O\s*\.?\s*\d+[A-Z]?\s+OF\s+\d{4}""", line, I)) {
          return fixups(Py.wsCollapse(Py.strip(line)))
        } else if (Py.matches("""ACTION\s+(?:N\s+)?O\s*\.?\s*\d+[A-Z]?\s+OF\s+\d{2,3}\s+\d{1,2}""", line, I)) {
          var c = Py.subRef("""(\bOF\s+)(\d{2,3})\s+(\d{1,2})""", """\1\2\3""", Py.strip(line))
          c = fixups(c)
          return Py.wsCollapse(c)
        }

        // Try combining with the next line (src/extractor.py:517-537)
        if (i + 1 < lines.length) {
          val combined = s"$line ${Py.strip(lines(i + 1))}"
          if (Py.matches("""ACTION\s+(?:N\s+)?O\s*\.?\s*\d+[A-Z]?\s+OF\s+\d{4}""", combined, I)) {
            return fixups(Py.wsCollapse(Py.strip(combined)))
          } else if (Py.matches("""ACTION\s+(?:N\s+)?O\s*\.?\s*\d+[A-Z]?\s+OF\s+\d{2,3}\s+\d{1,2}""", combined, I)) {
            var c = Py.subRef("""(\bOF\s+)(\d{2,3})\s+(\d{1,2})""", """\1\2\3""", Py.strip(combined))
            c = fixups(c)
            return Py.wsCollapse(c)
          }
        }

        // Hunt a 20xx year within ±3 lines and rebuild (src/extractor.py:539-555)
        val startSearch = math.max(0, i - 3)
        val endSearch = math.min(lines.length, i + 4)
        var j = startSearch
        while (j < endSearch) {
          Py.search1("""20[0-9]{2}""", lines(j)) match {
            case Some(year) =>
              Py.search1("""NO\.?\s*(\d+[A-Z]?)""", line, I) match {
                case Some(number) => return s"ACTION NO $number OF $year"
                case None =>
              }
            case None =>
          }
          j += 1
        }

        // Partial line (src/extractor.py:557-565)
        if (Py.contains("""(?:N\s+)?O\s*\.?\s*\d+""", line, I)) {
          return fixups(Py.wsCollapse(Py.strip(line)))
        }
      }
      i += 1
    }
    ""
  }

  private val courtPatterns = Seq(
    """香港特別行政區.*?高等法院.*?上訴法庭""",
    """高等法院.*?原訟法庭""",
    """民事上訴案件""",
    """雜項案件""")

  private val partiesPatterns = Seq("""原告人""", """被告人""", """申請人""", """上訴人""")

  private val positionedPatterns = Seq(
    """民事上訴案件\s*(\d{4})年第\s*([^號]+)\s*號""",
    """(\d{4})年第\s*([^號]+)\s*號""",
    """案件編號[：:]\s*([^\n]+)""")

  /** `_extract_chinese_case_number_positioned` (`src/extractor.py:663-708`):
    * the court-end → party-start positional window idiom. */
  def extractChineseCaseNumberPositioned(text: String): String = {
    val courtEnd = courtPatterns.flatMap(Py.searchSpan(_, text)).map(_._2).maxOption.getOrElse(0)
    if (courtEnd == 0) return ""

    val after = Py.sliceFrom(text, courtEnd)
    val partiesStart = partiesPatterns.flatMap(Py.searchSpan(_, after)).map(courtEnd + _._1)
      .minOption.getOrElse(text.length)
    if (partiesStart == text.length) return ""

    val middle = Py.slice(text, courtEnd, partiesStart)
    positionedPatterns.iterator.flatMap(Py.searchGroups(_, middle))
      .map(g => Py.wsCollapse(Py.strip(g(0)))).nextOption().getOrElse("")
  }
}
