package graft.extract

import java.util.Locale

import graft.text.{Py, Scan}
import graft.text.Py.Rx

/** P19/P20 — lawyer-segment extraction over the last-20% window, with
  * last-10-lines and last-30% fallbacks, 30-char-prefix dedupe and the
  * 600-char budget (`/root/reference/src/extractor.py:3039-3246`). */
object Lawyers {

  def extractLawyerSegment(text: String, language: String): String =
    if (text == null) "" else extractLawyerSegment(Scan(text), language)

  def extractLawyerSegment(scan: Scan, language: String): String = {
    val n = scan.text.length
    if (n == 0) return ""
    val lastSection = scan.slice(math.max(0, n - n / 5), n)
    if (language == "english") extractEnglishLawyerSegment(lastSection, scan)
    else extractChineseLawyerSegment(lastSection.text)
  }

  // Method-1 patterns, each anchored at the literals its matches begin with,
  // and guarded by a second literal where the anchor is a common word
  private[graft] val lawyerPatterns = Seq(
    Rx("""(?i)(?:mr|ms|miss)\.?\s+[A-Z][a-z]+[^.]*?instructed\s+by[^.]*?for\s+(?:the\s+)?(?:plaintiff|defendant)""",
      anchor = Py.lit("mr", "ms", "miss")),
    Rx("""(?i)instructed\s+by[^.]*?for\s+(?:the\s+)?(?:plaintiff|defendant)""", anchor = Py.lit("instructed")),
    Rx("""(?i)counsel\s+for\s+(?:the\s+)?(?:plaintiff|defendant)[:\s]+([^\n\.]+)""", anchor = Py.lit("counsel")),
    Rx("""(?i)(?:plaintiff|defendant).*?represented\s+by[^.]*?instructed\s+by""",
      anchor = Py.lit("plaintiff", "defendant"), guard = Seq("represented")),
    Rx("""(?i)for\s+(?:the\s+)?(?:plaintiff|defendant)[:\s]+(?:mr|ms|miss)\.?\s+[A-Z][a-z]+""",
      anchor = Py.lit("for"), guard = Seq("mr", "ms", "miss")),
    Rx("""(?i)(?:mr|ms|miss)\.?\s+[A-Z][a-z]+.*?(?:instructed\s+by|of\s+[A-Z][a-z]+.*?(?:chambers|solicitors?))""",
      anchor = Py.lit("mr", "ms", "miss")),
    Rx("""(?i)(?:mr|ms|miss)\.?\s+[A-Z][a-z]+.*?for\s+(?:the\s+)?(?:plaintiff|defendant|1st|2nd|3rd|4th)""",
      anchor = Py.lit("mr", "ms", "miss")),
    Rx("""(?i)(?:leading\s+)?counsel.*?(?:instructed\s+by|for\s+(?:the\s+)?(?:plaintiff|defendant))""",
      anchor = Py.lit("leading", "counsel"), guard = Seq("counsel")),
    Rx("""(?i)(?:the\s+)?(?:plaintiff|defendant).*?(?:was\s+)?not\s+represented""",
      anchor = Py.lit("the", "plaintiff", "defendant"), guard = Seq("represented")))

  private[graft] val namePattern = Rx("""(?i)(?:mr|ms|miss)\.?\s+[A-Z][a-z]+""", anchor = Py.lit("mr", "ms", "miss"))

  // Method-3 strict patterns, guarded the same way
  private[graft] val clearPatterns = Seq(
    Rx("""(?i)(?:mr|ms|miss)\.?\s+[A-Z][a-z]+.*?instructed\s+by.*?for\s+(?:the\s+)?(?:plaintiff|defendant)""",
      anchor = Py.lit("mr", "ms", "miss")),
    Rx("""(?i)for\s+(?:the\s+)?(?:plaintiff|defendant)[:\s]+(?:mr|ms|miss)\.?\s+[A-Z][a-z]+.*?(?:instructed|chambers)""",
      anchor = Py.lit("for"), guard = Seq("instructed", "chambers")),
    Rx("""(?i)(?:the\s+)?(?:plaintiff|defendant).*?not\s+represented""",
      anchor = Py.lit("the", "plaintiff", "defendant"), guard = Seq("represented")),
    Rx("""(?i)(?:the\s+)?(?:plaintiff|defendant).*?did\s+not\s+appear""",
      anchor = Py.lit("the", "plaintiff", "defendant"), guard = Seq("appear")))

  private val lawyerKeywords = Seq(
    "instructed by", "counsel for", "represented by", "chambers", "solicitor",
    "barrister", "appeared for", "acting for", "solicitors", "law firm",
    "not represented", "in person", "did not appear")

  private val lineWords = Seq("instructed", "counsel", "represented", "chambers")

  /** `_extract_english_lawyer_segment` (`src/extractor.py:3070-3207`). */
  def extractEnglishLawyerSegment(lastSection: Scan, fullText: Scan): String = {
    // Method 1: paragraph scan of the last-20% window
    val paragraphs = Py.resplit("""\n\s*\n""", lastSection.text).map(Py.strip).filter(_.length >= 30)
    var found = paragraphs.flatMap { p =>
      val paragraph = Scan(p)
      val lower = p.toLowerCase(Locale.ROOT) // the reference's .lower()
      val hasLawyerInfo = lawyerPatterns.exists(_.contains(paragraph))
      val hasKeywords = lawyerKeywords.exists(lower.contains)
      if (hasLawyerInfo || (hasKeywords && namePattern.contains(paragraph)))
        Some(cleanLawyerSegment(p)).filter(c => c.length >= 15 && c.length <= 1000)
      else None
    }

    // Method 2: the first of the last 10 lines with a lawyer word whose
    // ±2-line context cleans to 15..800 chars
    if (found.isEmpty) {
      val lines = Py.split(lastSection.text, "\n").takeRight(10).map(Py.strip)
      found = lines.indices.iterator
        .filter(i => lineWords.exists(lines(i).toLowerCase(Locale.ROOT).contains))
        .map(i => cleanLawyerSegment(lines.slice(math.max(0, i - 2), i + 3).filter(_.nonEmpty).mkString(" ")))
        .find(c => c.length >= 15 && c.length <= 800).toList
    }

    // Method 3: widen to last 30% with strict patterns, ±100-char context;
    // each pattern adds its accepted matches until there are two (at least one)
    if (found.isEmpty) {
      val n = fullText.text.length
      val ext = fullText.slice(math.max(0, n - n * 30 / 100), n)
      found = clearPatterns.foldLeft(List.empty[String]) { (acc, p) =>
        acc ++ p.findIter(ext).iterator
          .map { case (_, ms, me) => cleanLawyerSegment(Py.slice(ext.text, math.max(0, ms - 100), me + 100)) }
          .filter(c => c.length >= 20 && c.length <= 600)
          .take(math.max(1, 2 - acc.length))
      }
    }

    if (found.isEmpty) return ""

    // Dedupe by 30-char prefix, keep ≤3, 600-char budget with '...' cut
    val unique = scala.collection.mutable.ListBuffer.empty[String]
    for (seg <- found) {
      val dup = unique.exists(ex =>
        seg.length > 30 && ex.length > 30 && seg.take(30) == ex.take(30))
      if (!dup) unique += seg
    }

    val result = scala.collection.mutable.ListBuffer.empty[String]
    var total = 0
    var stop = false
    for (seg <- unique.take(3) if !stop) {
      if (total + seg.length <= 600) {
        result += seg
        total += seg.length
      } else {
        val remaining = 600 - total
        if (remaining > 30) result += seg.take(remaining - 3) + "..."
        stop = true
      }
    }
    result.mkString(" | ")
  }

  private val chineseSegPatterns = Seq(
    """委托律师[：:]\s*[^\n]+""",
    """代理律师[：:]\s*[^\n]+""",
    """(?:原告|申請人|被告|被申請人).*?委託.*?代理""",
    """律师.*?(?:代表|代理)""")

  /** `_extract_chinese_lawyer_segment` (`src/extractor.py:3209-3246`). */
  def extractChineseLawyerSegment(lastSection: String): String = {
    val buf = scala.collection.mutable.ListBuffer.empty[String]
    val paragraphs = Py.resplit("""\n\s*\n""", lastSection)
    for (p0 <- paragraphs) {
      val paragraph = Py.strip(p0)
      if (paragraph.length >= 20) {
        val hasLawyerInfo = chineseSegPatterns.exists(p => Py.contains(p, paragraph))
        val hasKeywords = Seq("委托律师", "代理律师", "委託", "代理", "律师").exists(paragraph.contains)
        if (hasLawyerInfo || hasKeywords) {
          val cleaned = cleanLawyerSegment(paragraph)
          if (cleaned.length >= 15 && cleaned.length <= 600) buf += cleaned
        }
      }
    }
    if (buf.nonEmpty) buf.take(2).mkString(" | ") else ""
  }

  /** `_clean_lawyer_segment` (`src/extractor.py:3264-3281`). */
  def cleanLawyerSegment(text: String): String = {
    if (text == null || text.isEmpty) return ""
    var c = Py.wsCollapse(Py.strip(text))
    // guard rationale mirrors CaseType.cleanComprehensiveContent
    val hasPage = {
      val f = Py.foldCase(c); f.contains("page") || f.contains("頁") || f.contains("第")
    }
    if (c.indexOf('-') >= 0) c = Py.sub("""\s*-\s*\d+\s*-\s*""", " ", c)
    if (c.contains("_____")) c = Py.sub("""\s*_{5,}\s*""", " ", c)
    if (hasPage) c = Py.sub("""(?i)\s*(?:page|頁|第.*頁).*$""", "", c)
    c = Py.sub("""^\s*[,;.:\s]+""", "", c)
    c = Py.sub("""[.\s]*$""", "", c)
    Py.strip(c)
  }
}
