package graft.extract

import graft.text.{Py, Scan}
import graft.text.Py.{I, Rx}

/** P6 — trial-date extraction + 11-step cleaning chain
  * (`/root/reference/src/extractor.py:254-328`). */
object TrialDate {

  // each pattern anchored at its own fixed prefix
  private[graft] val englishPatterns = Seq(
    """Dates of Hearing\s*:?\s*([^\n]+)""" -> "dates of hearing",
    """Date of Decision\s*:?\s*([^\n]+)""" -> "date of decision",
    """Date of Judgment\s*:?\s*([^\n]+)""" -> "date of judgment",
    """Date of Trial\s*:?\s*([^\n]+)""" -> "date of trial",
    """Date of Hearing\s*:?\s*([^\n]+)""" -> "date of hearing",
    """Hearing Date\s*:?\s*([^\n]+)""" -> "hearing date",
    """Date of (?:Hearing|Decision|Judgment|Trial|Decision on Costs)\s*:?\s*([^\n]+)""" -> "date of ")
    .map { case (p, start) => Rx(p, I, Py.lit(start)) }

  private[graft] val chinesePatterns = Seq(
    """聆訊日期\s*[：:︰]\s*([^\n]+)""" -> "聆訊日期",
    """判決日期\s*[：:︰]\s*([^\n]+)""" -> "判決日期",
    """判案書日期\s*[：:︰]\s*([^\n]+)""" -> "判案書日期",
    """審訊日期\s*[：:︰]\s*([^\n]+)""" -> "審訊日期",
    """開庭日期\s*[：:︰]\s*([^\n]+)""" -> "開庭日期")
    .map { case (p, start) => Rx(p, 0, Py.lit(start)) }

  /** The first match, in pattern order, whose cleaned form is longer than
    * 5 chars (English) or 3 (Chinese). Every English pattern requires the
    * literal "date" and every Chinese one "日期": a document without it is
    * skipped before any pattern runs. */
  def extract(text: String, language: String): String = extract(Scan(text), language)

  def extract(scan: Scan, language: String): String = {
    val english = language == "english"
    if (!scan.folded.contains(if (english) "date" else "日期")) return ""
    (if (english) englishPatterns else chinesePatterns).iterator
      .flatMap(_.search1(scan))
      .map(raw => cleanTrialDate(Py.strip(raw)))
      .find(_.length > (if (english) 5 else 3))
      .getOrElse("")
  }

  /** `_clean_trial_date` (`src/extractor.py:297-328`). */
  def cleanTrialDate(dateStr: String): String = {
    if (dateStr == null || dateStr.isEmpty) return ""
    var c = Py.wsCollapse(Py.strip(dateStr))
    c = Py.sub("""\s*-\s*\d+\s*-\s*""", "", c)
    c = Py.sub("""\s*第\s*\d+\s*页.*$""", "", c)
    c = Py.sub("""\s+(?:and|&|及)\s*$""", "", c)
    c = Py.sub("""\s*(?:Date of|Before|Hon\.|J\.|in Chambers?|in Court).*$""", "", c, I)
    c = Py.sub("""\s*(?:Reasons? for|REASONS).*$""", "", c, I)
    c = Py.sub("""\s*(?:DECISION|JUDGMENT|D E C I S I O N|J U D G M E N T).*$""", "", c, I)
    c = Py.sub("""\s*(?:原告人|被告人|判案書|主審法官).*$""", "", c)
    c = Py.sub("""\s*(?:進一步陳詞日期|最後書面陳詞日期).*$""", "", c)
    c = Py.sub("""\s*_{5,}.*$""", "", c)
    c = Py.sub("""\s*(?:Introduction|This is an? application|made by).*$""", "", c, I)
    c = Py.sub("""[,\s]+$""", "", c)
    c = Py.sub("""^[,\s]+""", "", c)

    if (c.length > 150) {
      val sentences = Py.resplit("""[.!?]\s+""", c)
      c = if (sentences.nonEmpty && sentences.head.length > 10) sentences.head
          else Py.sliceTo(c, 150)
    }

    if (Py.contains("""(?:page|頁|第.*號)""", c, I)) {
      Py.search1(
        """((?:\d{1,2}[-/]\d{1,2}[-/]\d{4}|\d{4}\s*年\s*\d{1,2}\s*月\s*\d{1,2}\s*日|\d{1,2}\s+\w+\s+\d{4})+)""",
        c) match {
        case Some(d) => c = d
        case None =>
      }
    }

    Py.strip(c)
  }
}
