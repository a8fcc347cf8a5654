package graft.extract

import graft.extract.CaseType.Layer
import graft.text.{Py, Scan}
import graft.text.Py.{I, Rx, S}

/** P22 — judgment-result extraction over the last-15% window
  * (`/root/reference/src/extractor.py:1918-2107`). */
object JudgmentResult {

  def extract(text: String, language: String): String = extract(Scan(text), language)

  def extract(scan: Scan, language: String): String = {
    val totalChars = scan.text.length
    // last 15% but at least the last 5000 chars (src/extractor.py:1924-1926)
    val start = math.max(totalChars * 85 / 100, totalChars - 5000)
    val section = scan.slice(start, totalChars)
    if (language == "english") extractFocusedEnglish(section)
    else extractFocusedChinese(section)
  }

  // Each pattern with its start anchor and, where the anchor alone does not
  // imply it, a required-literal guard (see Py.Rx).
  private[graft] val orderPatterns = Seq(
    Rx("""(?:ORDER|ORDERS|JUDGMENT|CONCLUSION|DISPOSITION)\s*[:\.]?\s*\n((?:[^\n]+\n?){2,12})""", I | S,
      Py.lit("order", "judgment", "conclusion", "disposition")),
    Rx("""(?:IT IS ORDERED|I ORDER|THE COURT ORDERS?)\s*[:\.]?\s*((?:[^\n]+\n?){1,8})""", I | S,
      Py.lit("it is ordered", "i order", "the court order")),
    Rx("""(?:For (?:these reasons|the foregoing reasons)|Accordingly|Therefore)\s*[,.]?\s*([^\n.]{30,500})""", I | S,
      Py.lit("for these reasons", "for the foregoing reasons", "accordingly", "therefore")),
    Rx("""(I (?:make an )?[Oo]rder[^.]*?(?:that|in terms of)[^.]*?[.\n])""", I | S,
      Py.lit("i "), Seq("order")),
    Rx("""(I (?:would )?(?:make|grant|allow|dismiss|refuse)[^.]*?(?:order|application|claim)[^.]*?[.\n])""", I | S,
      Py.lit("i "), Seq("make", "grant", "allow", "dismiss", "refuse")),
    Rx("""([Bb]ased on the above[^.]*?[Oo]rder[^.]*?[.\n])""", I | S, Py.lit("based on the above")),
    Rx("""([Ii]n conclusion[^.]*?(?:order|grant|dismiss|allow)[^.]*?[.\n])""", I | S, Py.lit("in conclusion")),
    Rx("""([Ff]or the (?:above )?reasons?[^.]*?(?:order|grant|dismiss|allow)[^.]*?[.\n])""", I | S,
      Py.lit("for the "), Seq("reason")))

  private[graft] val decisionPatterns = Seq(
    Rx("""((?:dismiss|grant|refuse|allow|upheld|affirmed).*?(?:application|claim|appeal|action))""", I,
      Py.lit("dismiss", "grant", "refuse", "allow", "upheld", "affirmed")),
    Rx("""((?:Judgment|judgment)\s+(?:be\s+)?entered\s+for.*?)""", I, Py.lit("judgment"), Seq("entered")),
    Rx("""(I\s+(?:dismiss|grant|order|hold|refuse|allow).*?)""", I,
      Py.lit("i"), Seq("dismiss", "grant", "order", "hold", "refuse", "allow")),
    Rx("""((?:The\s+)?(?:application|appeal|claim)\s+(?:is|shall be)\s+(?:granted|dismissed|refused|allowed).*?)""", I,
      Py.lit("the", "application", "appeal", "claim"), Seq("granted", "dismissed", "refused", "allowed")),
    Rx("""((?:The\s+)?[Dd]efendants?.*?(?:pay|liable|responsible)[^.]*?(?:costs|damages|compensation)[^.]*?[.\n])""", I,
      Py.lit("the", "defendant"), Seq("pay", "liable", "responsible")),
    Rx("""((?:The\s+)?[Pp]laintiffs?.*?(?:entitled|succeed)[^.]*?[.\n])""", I,
      Py.lit("the", "plaintiff"), Seq("entitled", "succeed")),
    Rx("""([Ss]ummary judgment.*?(?:granted|entered|allowed)[^.]*?[.\n])""", I, Py.lit("summary judgment")),
    Rx("""([Cc]osts.*?(?:assessed|taxed|awarded)[^.]*?[.\n])""", I,
      Py.lit("costs"), Seq("assessed", "taxed", "awarded")),
    Rx("""([Ii]nterest.*?(?:awarded|granted|payable)[^.]*?[.\n])""", I,
      Py.lit("interest"), Seq("awarded", "granted", "payable")),
    Rx("""([Aa]pplication.*?(?:granted|dismissed|refused|allowed)[^.]*?[.\n])""", I,
      Py.lit("application"), Seq("granted", "dismissed", "refused", "allowed")))

  private val englishLayers = Seq(layer(orderPatterns, 20, 1000), layer(decisionPatterns, 15, 800))

  /** `_extract_judgment_result_focused` (`src/extractor.py:1941-2022`). */
  def extractFocusedEnglish(section: Scan): String =
    focused(section, englishLayers, prefixLen = 30, maxLen = 2500)

  private val orderZh = Seq(
    Rx("""(?:命令|判令|裁定|判決|判决)\s*[：:.]?\s*\n((?:[^\n]+\n?){2,10})"""),
    Rx("""(?:本庭|法庭|法院)\s*(?:命令|判令|裁定|判決|判决)\s*([^\n。]{15,400})"""),
    Rx("""(?:綜上所述|因此|故此|據此)\s*[，,：:.]*\s*([^\n。]{20,400})"""))

  private val decisionZh = Seq(
    Rx("""((?:批准|拒絕|駁回|允許|准許|不准).*?(?:申請|請求|上訴))"""),
    Rx("""((?:勝訴|敗訴|得直|不得直).*?)"""),
    Rx("""((?:撤回|撤訴).*?)"""))

  private val chineseLayers = Seq(layer(orderZh, 10, 800), layer(decisionZh, 8, 600))

  /** `_extract_chinese_judgment_result_focused` (`src/extractor.py:2024-2085`). */
  def extractFocusedChinese(section: Scan): String =
    focused(section, chineseLayers, prefixLen = 20, maxLen = 2000)

  /** An unweighted layer: the results are combined in match order. */
  private def layer(patterns: Seq[Rx], min: Int, max: Int): Layer = Layer(patterns.map(_ -> 0), min, max)

  /** The layers' segments (`_clean_judgment_content` is
    * `_clean_comprehensive_content`), prefix-deduped and budgeted. */
  private def focused(section: Scan, layers: Seq[Layer], prefixLen: Int, maxLen: Int): String = {
    if (section.text.length < 100) return ""
    combine(CaseType.layerSegments(section, layers).map(_.content), prefixLen, maxSegments = 4, maxLen)
  }

  private def combine(segments: List[String], prefixLen: Int,
                      maxSegments: Int, maxLen: Int): String = {
    if (segments.isEmpty) return ""
    val unique = scala.collection.mutable.ListBuffer.empty[String]
    for (seg <- segments) {
      val dup = unique.exists(ex =>
        seg.nonEmpty && ex.nonEmpty && seg.take(prefixLen) == ex.take(prefixLen))
      if (!dup) unique += seg
    }
    val capped = if (unique.length > maxSegments) unique.take(maxSegments) else unique
    val result = capped.mkString(" | ")
    if (result.length > maxLen) Py.sliceTo(result, maxLen - 3) + "..."
    else result
  }
}
