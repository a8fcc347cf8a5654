package graft.extract

import java.util.Locale

import graft.text.Py
import graft.text.Py.I

/** P8/P10 — case-number extraction: the stateful ACTION-line scan
  * (`/root/reference/src/extractor.py:439-567`) and the positioned Chinese
  * path (`src/extractor.py:663-708`). */
object CaseNumber {

  def extract(text: String, language: String): String = {
    if (language == "english") {
      val direct = extractActionLineDirectly(text)
      if (direct.nonEmpty) return direct
      // Fallback: HCA n/yyyy → ACTION NO n OF yyyy (src/extractor.py:449-454)
      Py.searchGroups("""HCA\s+(\d+[A-Z]?)/(\d{4})""", Py.sliceTo(text, 15000), I) match {
        case Some(g) => return s"ACTION NO ${g(1)} OF ${g(2)}"
        case None =>
      }
      ""
    } else {
      val positioned = extractChineseCaseNumberPositioned(text)
      if (positioned.nonEmpty) return positioned
      val patterns = Seq(
        """(高院民事訴訟\s*\d+\s*年\s*第\s*\d+[A-Z]?\s*號)""",
        """((?:高院)?民事訴訟案件(?:編號)?\s*\d+\s*年\s*第\s*\d+[A-Z]?\s*號)""",
        """(ACTION NO\.?\s*\d+[A-Z]?\s+OF\s+\d{4})""",
        """(HCA\d{6}[A-Z]?_\d{4})""",
        """(HCA\s+\d+[A-Z]?/\d{4})""")
      val start = Py.sliceTo(text, math.min(text.length, 15000))
      for (p <- patterns) {
        Py.search1(p, start) match {
          case Some(m) => return Py.wsCollapse(Py.strip(m))
          case None =>
        }
      }
      ""
    }
  }

  /** `_extract_action_line_directly` (`src/extractor.py:482-567`) — a
    * line-level stateful scan with split-year repair; not expressible as a
    * single regex, kept as pure Scala inside the typed kernel. */
  def extractActionLineDirectly(text: String): String = {
    val lines = Py.split(Py.sliceTo(text, 15000), "\n")

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

  /** `_extract_chinese_case_number_positioned` (`src/extractor.py:663-708`):
    * the court-end → party-start positional window idiom. */
  def extractChineseCaseNumberPositioned(text: String): String = {
    val courtPatterns = Seq(
      """香港特別行政區.*?高等法院.*?上訴法庭""",
      """高等法院.*?原訟法庭""",
      """民事上訴案件""",
      """雜項案件""")

    var courtEnd = 0
    for (p <- courtPatterns)
      Py.searchSpan(p, text).foreach { case (_, e) => courtEnd = math.max(courtEnd, e) }
    if (courtEnd == 0) return ""

    val partiesPatterns = Seq("""原告人""", """被告人""", """申請人""", """上訴人""")
    var partiesStart = text.length
    val after = Py.sliceFrom(text, courtEnd)
    for (p <- partiesPatterns)
      Py.searchSpan(p, after).foreach { case (s, _) =>
        partiesStart = math.min(partiesStart, courtEnd + s)
      }
    if (partiesStart == text.length) return ""

    val middle = Py.slice(text, courtEnd, partiesStart)
    val chinesePatterns = Seq(
      """民事上訴案件\s*(\d{4})年第\s*([^號]+)\s*號""",
      """(\d{4})年第\s*([^號]+)\s*號""",
      """案件編號[：:]\s*([^\n]+)""")
    for (p <- chinesePatterns) {
      Py.searchGroups(p, middle) match {
        case Some(g) => return Py.wsCollapse(Py.strip(g(0)))
        case None =>
      }
    }
    ""
  }
}
