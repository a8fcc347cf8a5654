package graft.extract

import java.util.Locale

import graft.text.Py
import graft.text.Py.{I, Rx, S}

/** P21 — case-type segment extraction with the weight-sorted,
  * prefix-deduped, budgeted combiner
  * (`/root/reference/src/extractor.py:1685-1916`). */
object CaseType {

  final case class Segment(content: String, weight: Int)

  def extract(text0: String, language: String, docType: String): String = {
    // 80000-char cap (src/extractor.py:1691-1693)
    val text = if (text0.length > 80000) Py.sliceTo(text0, 80000) else text0
    if (language == "english") extractEnglishComprehensive(text)
    else extractChineseComprehensive(text)
  }

  /** A layer of weighted patterns: up to two matches of each, cleaned,
    * kept when the cleaned length is within `min..max`. */
  private[extract] final case class Layer(rows: Seq[(Rx, Int)], min: Int, max: Int)

  /** The segments of `layers` in order: the first two matches of each
    * pattern, cleaned, within the layer's bounds. One case fold of `text`
    * is shared by the patterns when any has a guard or an anchor. */
  private[extract] def layerSegments(text: String, layers: Seq[Layer]): List[Segment] = {
    val needsFold = layers.exists(_.rows.exists { case (p, _) => p.anchor.nonEmpty || p.guard.nonEmpty })
    val folded = if (needsFold) Py.foldCase(text) else null
    for {
      layer <- layers.toList
      (p, weight) <- layer.rows
      (g1, _, _) <- p.findIter(text, folded, maxMatches = 2)
      clean = cleanComprehensiveContent(g1)
      if clean.length >= layer.min && clean.length <= layer.max
    } yield Segment(clean, weight)
  }

  // `_extract_english_case_type_comprehensive` (`src/extractor.py:1706-1780`)
  // layer 1: key sections, weights 10..6; layer 2: judgment context, 5 and 4
  private val englishLayers = Seq(
    Layer(Seq(
      Rx("""Introduction\s*[:\.]?\s*\n((?:[^\n]+\n){3,20})""", I | S, Py.lit("introduction")) -> 10,
      Rx("""(?:BACKGROUND|Background)\s*[:\.]?\s*\n((?:[^\n]+\n){5,25})""", I | S, Py.lit("background")) -> 9,
      Rx("""(?:FACTS?|Facts?)\s*[:\.]?\s*\n((?:[^\n]+\n){3,20})""", I | S, Py.lit("fact")) -> 8,
      Rx("""(?:This is|These are)\s+(?:an?\s+)?(action|application|proceeding|matter|case|appeal|motion|summons)([^\n.]{20,300})""",
        I | S, Py.lit("this is", "these are")) -> 7,
      Rx("""(?:The|This)\s+(?:plaintiff|applicant|defendant|appellant)\s+(?:seeks?|applies?|brings?|claims?)\s+([^\n.]{30,400})""",
        I | S, Py.lit("the", "this"), Seq("plaintiff", "applicant", "defendant", "appellant")) -> 6),
      50, 2000),
    Layer(Seq(
      Rx("""(?:ORDER|ORDERS|JUDGMENT|HELD|DISPOSITION)\s*[:\.]?\s*\n((?:[^\n]+\n){2,15})""", I | S,
        Py.lit("order", "judgment", "held", "disposition")) -> 5,
      Rx("""(?:For (?:these reasons|the foregoing reasons)|Accordingly|In (?:conclusion|the result))\s*[,.]?\s*([^\n.]{50,500})""",
        I | S, Py.lit("for these reasons", "for the foregoing reasons", "accordingly", "in conclusion",
          "in the result")) -> 4),
      30, 1500))

  // `_extract_chinese_case_type_comprehensive` (`src/extractor.py:1846-1916`)
  private val chineseLayers = Seq(
    Layer(Seq(
      Rx("""(?:背景|事實|案情|簡介)\s*[：:.]?\s*\n((?:[^\n]+\n){3,20})""", 0, Py.lit("背景", "事實", "案情", "簡介")) -> 10,
      Rx("""(?:爭議|問題|焦點|糾紛)\s*[：:.]?\s*\n((?:[^\n]+\n){2,15})""", 0, Py.lit("爭議", "問題", "焦點", "糾紛")) -> 9,
      Rx("""(?:申請人|原告人?)\s*(?:申請|請求|要求|尋求|指稱)\s*([^\n。]{50,500})""", 0, Py.lit("申請人", "原告")) -> 8,
      Rx("""(?:本案|該案|此案)\s*(?:涉及|關於|係|為)\s*([^\n。]{30,400})""", 0, Py.lit("本案", "該案", "此案")) -> 7),
      30, 1500),
    Layer(Seq(
      Rx("""(?:命令|判令|裁定|判決)\s*[：:.]?\s*\n((?:[^\n]+\n){2,15})""", 0, Py.lit("命令", "判令", "裁定", "判決")) -> 6,
      Rx("""(?:綜上所述|因此|故此|據此)\s*[，,]?\s*([^\n。]{30,400})""", 0, Py.lit("綜上所述", "因此", "故此", "據此")) -> 5),
      20, 1000))

  private[graft] def englishPatterns: Seq[Rx] = englishLayers.flatMap(_.rows.map(_._1))
  private[graft] def chinesePatterns: Seq[Rx] = chineseLayers.flatMap(_.rows.map(_._1))

  private val englishKeywords = Seq("application", "proceeding", "action", "dispute",
    "matter", "claim", "relief", "judgment", "order")
  private val chineseKeywords = Seq("申請", "爭議", "糾紛", "案件", "法庭", "法院", "判決", "命令", "裁定")

  def extractEnglishComprehensive(text: String): String =
    comprehensive(text, englishLayers, paragraphLen = (200, 2000), cleanLen = (100, 1500), maxLength = 3000)(
      p => englishKeywords.exists(p.toLowerCase(Locale.ROOT).contains))

  def extractChineseComprehensive(text: String): String =
    comprehensive(text, chineseLayers, paragraphLen = (150, 1500), cleanLen = (80, 1200), maxLength = 2500)(
      p => chineseKeywords.exists(p.contains))

  /** The pattern layers, then layer 3: paragraphs of `paragraphLen` chars
    * with a case keyword, cleaned to `cleanLen`, weight 2 — stopping once a
    * paragraph brings the total to 8 segments. */
  private def comprehensive(text: String, layers: Seq[Layer], paragraphLen: (Int, Int),
                            cleanLen: (Int, Int), maxLength: Int)(hasKeyword: String => Boolean): String = {
    val segments = scala.collection.mutable.ListBuffer.from(layerSegments(text, layers))
    var stop = false
    for (paragraph <- Py.resplit("""\n\s*\n""", text) if !stop) {
      if (paragraph.length >= paragraphLen._1 && paragraph.length <= paragraphLen._2 && hasKeyword(paragraph)) {
        val clean = cleanComprehensiveContent(paragraph)
        if (clean.length >= cleanLen._1 && clean.length <= cleanLen._2) {
          segments += Segment(clean, 2)
          if (segments.length >= 8) stop = true
        }
      }
    }
    combineComprehensiveSegments(segments.toList, maxLength)
  }

  /** `_clean_comprehensive_content` (`src/extractor.py:1782-1802`); the
    * reference's `_clean_judgment_content` (`src/extractor.py:2087-2107`)
    * has the same body, so JudgmentResult uses this one too. */
  def cleanComprehensiveContent(content: String): String = {
    if (content == null || content.isEmpty) return ""
    var c = Py.wsCollapse(Py.strip(content))
    // literal guards: absent the required literal the pattern cannot match
    // (the '-'/'_' subs replace with " " and so can never splice "page"
    // together — the fold-guard computed here stays valid below)
    val hasPage = {
      val f = Py.foldCase(c); f.contains("page") || f.contains("頁")
    }
    if (c.indexOf('-') >= 0) c = Py.sub("""\s*-\s*\d+\s*-\s*""", " ", c)
    if (c.contains("___")) c = Py.sub("""\s*_{3,}\s*""", " ", c)
    if (hasPage) c = Py.sub("""\s*(?:page|頁)\s*\d+.*$""", "", c, I)
    c = Py.sub("""^\s*(?:\d+\.\s*)?""", "", c)
    c = Py.sub("""^[,;.:\s]+""", "", c)
    c = Py.sub("""[.\s]+$""", "", c)
    Py.strip(c)
  }

  /** `_combine_comprehensive_segments` (`src/extractor.py:1804-1844`):
    * stable weight-desc sort, 30-char-prefix dedupe, budgeted concat
    * (≤5 segments; later smaller segments may still fit — no break on a
    * budget miss). */
  def combineComprehensiveSegments(segments: List[Segment], maxLength: Int): String = {
    if (segments.isEmpty) return ""
    val sorted = segments.sortBy(-_.weight) // stable, like Python list.sort

    val selected = scala.collection.mutable.ListBuffer.empty[String]
    var total = 0
    var stop = false
    for (seg <- sorted if !stop) {
      val content = seg.content
      if (content.nonEmpty) {
        val dup = selected.exists(ex =>
          content.length > 30 && ex.length > 30 && content.take(30) == ex.take(30))
        if (!dup && total + content.length <= maxLength) {
          selected += content
          total += content.length
          if (selected.length >= 5) stop = true
        }
      }
    }

    if (selected.isEmpty) return ""
    val result = selected.mkString(" | ")
    if (result.length > maxLength) Py.sliceTo(result, maxLength - 3) + "..."
    else result
  }
}
