package graft.extract

import java.util.Locale

import graft.text.{Py, Scan}
import graft.text.Py.{I, Rx, S}

/** P7 — court-name extraction, cleaning and validation
  * (`/root/reference/src/extractor.py:330-437`). The validator is part of
  * the cascade: an invalid match falls through to the next pattern. */
object CourtName {

  // every English pattern starts with the literal "IN THE"
  private[graft] val englishPatterns = Seq(
    """IN THE\s+(HIGH COURT OF THE\s+HONG KONG SPECIAL ADMINISTRATIVE REGION\s+COURT OF FIRST INSTANCE)""",
    """IN THE\s+(HIGH COURT OF THE\s+HONG KONG SPECIAL ADMINISTRATIVE REGION\s+COURT OF APPEAL)""",
    """IN THE\s+(COURT OF FIRST INSTANCE\s+OF THE HIGH COURT)""",
    """IN THE\s+(HIGH COURT OF THE[^\n]*?\n[^\n]*?HONG KONG SPECIAL ADMINISTRATIVE REGION[^\n]*?\n[^\n]*?COURT OF FIRST INSTANCE)""",
    """IN THE\s+(HIGH COURT OF THE[^\n]*?\n[^\n]*?HONG KONG SPECIAL ADMINISTRATIVE REGION[^\n]*?\n[^\n]*?COURT OF APPEAL)""",
    """IN THE\s+(.*?COURT OF FIRST INSTANCE)""",
    """IN THE\s+(.*?COURT OF APPEAL)""",
    """IN THE\s+(HIGH COURT OF THE\s+HONG KONG SPECIAL ADMINISTRATIVE REGION)""",
    """IN THE\s+(.*?HIGH COURT.*?)(?=ACTION|PROCEEDING|BETWEEN)""",
    """IN THE\s+(.*?COURT.*?)(?=ACTION|PROCEEDING|BETWEEN)""")
    .map(Rx(_, I | S, Py.lit("in the")))

  private[graft] val chinesePatterns = Seq(
    """(香港特別行政區高等法院原訟法庭)""",
    """(香港特別行政區高等法院)""",
    """(香\s*港\s*特\s*別\s*行\s*政\s*區\s*高等法院原訟法庭)""",
    """(香\s*港\s*特\s*別\s*行\s*政\s*區\s*高等法院)""",
    """(高等法院原訟法庭)""",
    """(.*?高等法院.*?原訟法庭)""",
    """(.*?高等法院.*?法庭)""")
    .map(Rx(_))

  /** The first match, in pattern order, that cleans to a valid court name.
    * Every English pattern needs "IN THE" and captures a "...COURT...": a
    * document without both is skipped before any pattern runs. */
  def extract(text: String, language: String): String = extract(Scan(text), language)

  def extract(scan: Scan, language: String): String = {
    val english = language == "english"
    if (english && !(scan.folded.contains("in the") && scan.folded.contains("court"))) return ""
    (if (english) englishPatterns else chinesePatterns).iterator
      .flatMap(_.search1(scan))
      .map(raw => cleanCourtName(Py.strip(raw)))
      .find(validateCourtName(_, language))
      .getOrElse("")
  }

  /** `_clean_court_name` (`src/extractor.py:381-399`) — normalizes
    * intra-CJK spacing (香 港 … → 香港…) then strips trailers. */
  def cleanCourtName(courtName: String): String = {
    if (courtName == null || courtName.isEmpty) return ""
    var c = Py.wsCollapse(Py.strip(courtName))
    c = Py.sub("""香\s*港\s*特\s*別\s*行\s*政\s*區""", "香港特別行政區", c)
    c = Py.sub("""香港特別行政區\s+高等法院""", "香港特別行政區高等法院", c)
    c = Py.sub("""\s*-\s*\d+\s*-.*$""", "", c)
    c = Py.sub("""\s*_{5,}.*$""", "", c)
    c = Py.sub("""\s*(?:ACTION NO\.|PROCEEDING|BETWEEN).*$""", "", c, I)
    c = Py.sub("""\s*(?:案件編號|民事訴訟案件|原告人|被告人).*$""", "", c)
    Py.strip(c)
  }

  /** `_validate_court_name` (`src/extractor.py:401-437`). */
  def validateCourtName(courtName: String, language: String): Boolean = {
    if (courtName == null || courtName.isEmpty || courtName.length < 5) return false
    if (courtName.length > 200) return false

    if (language == "english") {
      val up = courtName.toUpperCase(Locale.ROOT)
      if (!up.contains("COURT")) return false
      val bad = Seq("BETWEEN", "PLAINTIFF", "DEFENDANT", "ACTION NO", "PROCEEDING", "BEFORE")
      if (bad.exists(up.contains)) return false
      val good = Seq("HIGH COURT", "COURT OF FIRST INSTANCE", "HONG KONG", "ADMINISTRATIVE REGION")
      if (good.exists(up.contains)) return true
      courtName.length <= 100
    } else {
      if (!Seq("法院", "法庭").exists(courtName.contains)) return false
      val bad = Seq("原告", "被告", "案件編號", "申請", "判決", "上訴", "評估", "考慮", "決定")
      if (bad.exists(courtName.contains)) return false
      val good = Seq("香港特別行政區", "高等法院", "原訟法庭", "民事司法管轄")
      if (good.exists(courtName.contains)) return true
      courtName.length <= 50
    }
  }
}
