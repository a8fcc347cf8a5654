package graft.extract

import java.util.Locale

import graft.text.{Py, Scan}
import graft.text.Py.{I, Rx}

/** P23/P24/P25 — three-tier positional amount search, context-scored
  * candidate top-k, and rule-based amount normalization (the reference's
  * "LLM analysis" builds a prompt it never sends — `src/extractor.py:2513-2515`
  * — so the real semantics are `_extract_amount_numbers_from_text`).
  * (`/root/reference/src/extractor.py:2109-2653`.) */
object Amounts {

  final case class Candidate(amount: String, context: String, position: Int, fullTextLen: Int)

  def extract(text: String, language: String, segmentType: String): String =
    extract(Scan(text), language, segmentType)

  /** `_extract_claim_amount_enhanced` and `_extract_judgment_amount_enhanced`
    * (`src/extractor.py:2135-2181`): precise windows, then extended
    * windows, then the whole text at threshold 1.0. */
  def extract(scan: Scan, language: String, segmentType: String): String = {
    val amountType = if (segmentType == "claim") "claim" else "judgment"
    val precise = extractPrecise(scan, language, amountType)
    if (precise.nonEmpty) return precise
    val extended = extractExtended(scan, language, amountType)
    if (extended.nonEmpty) return extended
    extractByKeywords(scan, language, amountType, 1.0)
  }

  /** `_extract_amounts_precise` (`src/extractor.py:2183-2210`): claim =
    * front 30% (≤10000) + back 30% (≥len−8000); judgment = back 40%
    * (≥len−12000); threshold 2.5. Floor-division arithmetic replicated. */
  def extractPrecise(scan: Scan, language: String, amountType: String): String = {
    val n = scan.text.length
    if (amountType == "claim") {
      val front30End = math.min(n * 3 / 10, 10000)
      val back30Start = math.max(n * 7 / 10, n - 8000)
      val front = extractByKeywords(scan.window(front30End), language, amountType, 2.5)
      val back = extractByKeywords(scan.slice(back30Start, n), language, amountType, 2.5)
      combineAmountResults(List(front, back))
    } else {
      val back40Start = math.max(n * 6 / 10, n - 12000)
      extractByKeywords(scan.slice(back40Start, n), language, amountType, 2.5)
    }
  }

  /** `_extract_amounts_extended` (`src/extractor.py:2212-2240`): claim =
    * front 50% (≤15000) + middle 30–80%; judgment = middle 40–90%;
    * threshold 2.0. */
  def extractExtended(scan: Scan, language: String, amountType: String): String = {
    val n = scan.text.length
    if (amountType == "claim") {
      val front50End = math.min(n * 5 / 10, 15000)
      val front = extractByKeywords(scan.window(front50End), language, amountType, 2.0)
      val mid = extractByKeywords(scan.slice(n * 3 / 10, n * 8 / 10), language, amountType, 2.0)
      combineAmountResults(List(front, mid))
    } else {
      extractByKeywords(scan.slice(n * 4 / 10, n * 9 / 10), language, amountType, 2.0)
    }
  }

  /** `_get_enhanced_keywords` (`src/extractor.py:2294-2343`). */
  def enhancedKeywords(language: String, amountType: String): (Seq[String], Seq[String]) = {
    if (language == "english") {
      if (amountType == "claim") (
        Seq("claims", "seeks", "damages", "compensation", "plaintiff seeks",
          "applicant seeks", "prays for", "relief sought",
          "sum of", "amount of", "payment of", "recovery of", "reimbursement of",
          "refund of", "outstanding", "principal amount", "principal sum",
          "loan amount", "debt of", "owing", "due and owing", "balance of",
          "unpaid sum", "contractual amount", "agreed sum", "deposit of",
          "security of", "guarantee of", "liability of", "quantum of",
          "monetary claim", "financial claim", "pecuniary loss", "loss and damage"),
        Seq("claim", "seek", "damage", "compensation", "debt", "owing", "recovery", "loss"))
      else (
        Seq("ordered to pay", "judgment for", "costs assessed", "defendant shall pay",
          "award", "grant", "summarily assessed",
          "I order", "the court orders", "hereby ordered", "it is ordered",
          "judgment is entered", "decree that", "direct payment", "liable to pay",
          "responsible for", "costs of", "costs in the sum", "interest on",
          "penalty of", "fine of", "damages awarded", "compensation ordered",
          "restitution of", "refund ordered", "payment directed", "sum awarded",
          "amount granted", "relief granted", "monetary judgment", "pecuniary award",
          "costs summarily assessed", "costs taxed", "interest at", "compound interest",
          "default judgment for", "judgment in favour", "enter judgment for"),
        Seq("order", "pay", "costs", "assess", "award", "judgment", "grant", "liable"))
    } else {
      if (amountType == "claim") (
        Seq("申請", "索償", "賠償", "損失", "要求", "請求", "原告申請", "申請人請求",
          "欠款", "債務", "借款", "貸款", "本金", "利息", "違約金", "罰款"),
        Seq("申請", "索償", "賠償", "要求", "損失", "債務"))
      else (
        Seq("判令", "命令", "賠償", "支付", "費用", "法庭命令", "判決", "裁定支付",
          "責令", "判給", "給予", "授予", "課以", "罰款", "利息"),
        Seq("判令", "支付", "費用", "賠償", "命令", "判決"))
    }
  }

  // Amount patterns as [[Py.Rx]]: each carries its start anchor and, where
  // a cheaper required literal exists elsewhere in the match, its guard.
  private val dollarWords = Seq("dollar", "usd", "hkd")
  private val yuan = Seq("港元", "美元", "人民", "元")

  /** `_get_enhanced_amount_patterns` (`src/extractor.py:2345-2380`). */
  private val enhancedBase = Seq(
    Rx("""HK\$[\d,]+(?:\.\d{2})?(?:\s*(?:million|billion|thousand))?""", I, Py.lit("hk$")),
    Rx("""USD?[\d,]+(?:\.\d{2})?(?:\s*(?:million|billion|thousand))?""", I, Py.lit("us")),
    Rx("""US\$[\d,]+(?:\.\d{2})?(?:\s*(?:million|billion|thousand))?""", I, Py.lit("us$")),
    Rx("""RMB[\d,]+(?:\.\d{2})?(?:\s*(?:million|billion|thousand))?""", I, Py.lit("rmb")),
    Rx("""(?:Hong Kong|US|United States)\s+Dollars?\s*[\d,]+(?:\.\d{2})?""", I,
      Py.lit("hong kong", "us", "united states"), Seq("dollar")),
    Rx("""(?:the\s+)?sum of\s+HK\$[\d,]+(?:\.\d{2})?""", I, Py.lit("the", "sum of"), Seq("sum of")),
    Rx("""(?:the\s+)?amount of\s+USD?[\d,]+(?:\.\d{2})?""", I, Py.lit("the", "amount of"), Seq("amount of")),
    Rx("""HK\$[\d,]+(?:\.\d{2})?\s+(?:plus|together with|and)\s+interest""", I, Py.lit("hk$")),
    Rx("""principal sum of\s+HK\$[\d,]+(?:\.\d{2})?""", I, Py.lit("principal sum of")),
    Rx("""outstanding balance of\s+USD?[\d,]+(?:\.\d{2})?""", I, Py.lit("outstanding balance of")),
    Rx("""[\d,]+(?:\.\d{2})?\s*(?:Hong Kong Dollars|US Dollars|USD|HKD)""", I, Py.DigitOrComma, dollarWords),
    Rx("""[\d,]+(?:\.\d{2})?\s*(?:million|billion|thousand)?\s*(?:dollars?|USD|HKD)""", I,
      Py.DigitOrComma, dollarWords),
    Rx("""\$[\d,]+(?:\.\d{2})?(?:\s*(?:million|billion|thousand))?""", I, Py.lit("$")),
    Rx("""[\d]{1,3}(?:,\d{3})+(?:\.\d{2})?""", I, Py.DigitStart, Seq(",")))

  private val enhancedChinese = enhancedBase ++ Seq(
    Rx("""(?:港幣|港币|美金|美元|人民幣|人民币)[\d,\.]+(?:萬|万|億|亿)?""", I,
      Py.lit("港幣", "港币", "美金", "美元", "人民幣", "人民币")),
    Rx("""[\d,]+(?:\.\d{2})?\s*(?:港元|美元|人民币)""", I, Py.DigitOrComma, yuan),
    Rx("""[\d,]+\s*(?:萬|万|億|亿)\s*(?:港元|美元)""", I, Py.DigitOrComma, yuan))

  private[graft] def enhancedAmountPatterns(language: String): Seq[Rx] =
    if (language == "chinese") enhancedChinese else enhancedBase

  /** `_find_potential_amounts` (`src/extractor.py:2382-2404`). */
  def findPotentialAmounts(scan: Scan, patterns: Seq[Rx]): List[Candidate] = {
    val text = scan.text
    val out = scala.collection.mutable.ListBuffer.empty[Candidate]
    for (p <- patterns; (m, ms, me) <- p.findIter(scan)) {
      val start = math.max(0, ms - 150)
      val end = math.min(text.length, me + 150)
      val context = Py.wsCollapse(Py.strip(Py.slice(text, start, end)))
      out += Candidate(m, context, ms, text.length)
    }
    out.toList
  }

  /** `_validate_amount_context` (`src/extractor.py:2406-2445`). */
  def validateAmountContext(c: Candidate, amountType: String, language: String,
                            keywords: Seq[String], contextWords: Seq[String]): Double = {
    val context = c.context.toLowerCase(Locale.ROOT)
    var score = 0.0
    for (kw <- keywords if context.contains(kw.toLowerCase(Locale.ROOT))) {
      score += (if (kw.length > 10) 3 else if (kw.length > 5) 2 else 1)
    }
    for (w <- contextWords if context.contains(w.toLowerCase(Locale.ROOT))) score += 1
    val negatives =
      if (amountType == "claim")
        Seq("costs", "legal fees", "court fees", "filing fee", "ordered to pay")
      else Seq("claims", "seeks damages", "plaintiff seeks", "applicant seeks")
    for (neg <- negatives if context.contains(neg)) score -= 1.5
    if (c.fullTextLen > 0) {
      val pos = c.position.toDouble / c.fullTextLen
      if (amountType == "judgment" && pos > 0.6) score += 1
      else if (amountType == "claim" && pos < 0.4) score += 1
    }
    math.max(0.0, score)
  }

  /** `_extract_amounts_by_enhanced_keywords` (`src/extractor.py:2249-2292`):
    * candidates → scoring → stable desc sort → top 3 contexts → 3000-char
    * budget → rule-based normalization. */
  def extractByKeywords(scan: Scan, language: String, amountType: String,
                        threshold: Double): String = {
    if (scan.text.length < 50) return ""
    val (keywords, contextWords) = enhancedKeywords(language, amountType)
    val potentials = findPotentialAmounts(scan, enhancedAmountPatterns(language))

    val validated = potentials.flatMap { c =>
      val score = validateAmountContext(c, amountType, language, keywords, contextWords)
      if (score >= threshold) Some((c.context, score)) else None
    }
    if (validated.isEmpty) return ""

    val top = validated.sortBy(-_._2).take(3).map(_._1) // stable desc, ties keep order
    var combined = top.mkString(" | ")
    if (combined.length > 3000) combined = Py.sliceTo(combined, 2997) + "..."

    val analyzed = extractAmountNumbersFromText(combined)
    if (analyzed.nonEmpty) analyzed else combined
  }

  private[graft] val numberAnalysisPatterns = Seq(
    Rx("""HK\$[\d,]+(?:\.\d{2})?(?:\s*(?:million|billion|thousand))?""", I, Py.lit("hk$")),
    Rx("""USD?\s*[\d,]+(?:\.\d{2})?(?:\s*(?:million|billion|thousand))?""", I, Py.lit("us")),
    Rx("""US\$[\d,]+(?:\.\d{2})?(?:\s*(?:million|billion|thousand))?""", I, Py.lit("us$")),
    Rx("""RMB[\d,]+(?:\.\d{2})?(?:\s*(?:million|billion|thousand))?""", I, Py.lit("rmb")),
    Rx("""(?:Hong Kong|US|United States)\s+Dollars?\s*[\d,]+(?:\.\d{2})?""", I,
      Py.lit("hong kong", "us", "united states"), Seq("dollar")),
    Rx("""(?:the\s+)?sum of\s+(?:HK\$|USD?|US\$)[\d,]+(?:\.\d{2})?""", I,
      Py.lit("the", "sum of"), Seq("sum of")),
    Rx("""(?:the\s+)?amount of\s+(?:HK\$|USD?|US\$)[\d,]+(?:\.\d{2})?""", I,
      Py.lit("the", "amount of"), Seq("amount of")),
    Rx("""[\d,]+(?:\.\d{2})?\s*(?:Hong Kong Dollars|US Dollars|USD|HKD)""", I, Py.DigitOrComma, dollarWords),
    Rx("""[\d,]+(?:\.\d{2})?\s*(?:million|billion|thousand)?\s*(?:dollars?|USD|HKD)""", I,
      Py.DigitOrComma, dollarWords),
    Rx("""\$[\d,]+(?:\.\d{2})?(?:\s*(?:million|billion|thousand))?""", I, Py.lit("$")),
    Rx("""[\d]{1,3}(?:,\d{3})+(?:\.\d{2})?""", I, Py.DigitStart, Seq(",")),
    Rx("""(?:港币|港幣|美金|美元|人民币|人民幣)[\d,]+(?:\.\d{2})?(?:\s*(?:万|萬|亿|億))?""", I,
      Py.lit("港幣", "港币", "美金", "美元", "人民幣", "人民币")),
    Rx("""[\d,]+(?:\.\d{2})?\s*(?:港元|美元|人民币|元)""", I, Py.DigitOrComma, yuan),
    Rx("""[\d,]+\s*(?:万|萬|亿|億)\s*(?:港元|美元|元)""", I, Py.DigitOrComma, yuan),
    Rx("""damages?\s+(?:of|in the sum of|totaling|amounting to)\s+(?:HK\$|USD?|US\$|\$)[\d,]+(?:\.\d{2})?""", I,
      Py.lit("damage")),
    Rx("""compensation\s+(?:of|in the sum of)\s+(?:HK\$|USD?|US\$|\$)[\d,]+(?:\.\d{2})?""", I,
      Py.lit("compensation")),
    Rx("""costs?\s+(?:of|in the sum of|assessed at)\s+(?:HK\$|USD?|US\$|\$)[\d,]+(?:\.\d{2})?""", I,
      Py.lit("cost")))

  /** `_extract_amount_numbers_from_text` (`src/extractor.py:2526-2589`):
    * single currency → sum; multiple currencies → max by value. */
  def extractAmountNumbersFromText(text: String): String = {
    val foundAmounts = scala.collection.mutable.ListBuffer.empty[String]
    val amountValues = scala.collection.mutable.ListBuffer.empty[Double]
    val currencies = scala.collection.mutable.LinkedHashSet.empty[String]
    val scan = Scan(text)

    for (p <- numberAnalysisPatterns; m <- p.findAll(scan)) {
      parseAmountMatch(m) match {
        case Some((value, currency)) if value > 0 =>
          amountValues += value
          currencies += currency
          foundAmounts += s"$currency${formatThousands(value)}"
        case _ =>
      }
    }

    if (amountValues.isEmpty) return ""

    if (currencies.size == 1) {
      val currency = currencies.head
      val total = amountValues.sum
      s"$currency${formatThousands(total)}"
    } else {
      val maxValue = amountValues.max
      val maxIndex = amountValues.indexOf(maxValue)
      if (foundAmounts.nonEmpty) foundAmounts(maxIndex) else ""
    }
  }

  /** `_parse_amount_match` (`src/extractor.py:2591-2627`). */
  def parseAmountMatch(m: String): Option[(Double, String)] = {
    val up = m.toUpperCase(Locale.ROOT)
    val currency =
      if (up.contains("HK") || m.contains("港")) "HK$"
      else if (up.contains("USD") || up.contains("US$") || up.contains("US ") || m.contains("美")) "USD"
      else if (up.contains("RMB") || m.contains("人民")) "RMB"
      else "$"
    Py.search1("""[\d,]+(?:\.\d{2})?""", m).flatMap { numberStr =>
      try {
        var value = numberStr.replace(",", "").toDouble
        if (Py.contains("""\bmillion\b""", m, I)) value *= 1000000
        else if (Py.contains("""\bbillion\b""", m, I)) value *= 1000000000
        else if (Py.contains("""\bthousand\b""", m, I)) value *= 1000
        else if (m.contains("万") || m.contains("萬")) value *= 10000
        else if (m.contains("亿") || m.contains("億")) value *= 100000000
        Some((value, currency))
      } catch { case _: NumberFormatException => None }
    }
  }

  /** Python `f"{value:,.0f}"` — round-half-even on the exact binary double,
    * comma thousands grouping. `Math.rint` IS half-even rounding of the
    * exact binary value, so the long fast path equals the BigDecimal path
    * for every double it accepts (|v| < 2^53 keeps the long exact).
    * Non-finite values print as Python prints them (`inf`, `-inf`, `nan`):
    * a 400-digit claim parses to `Infinity`. */
  def formatThousands(value: Double): String = {
    val r = Math.rint(value)
    if (value.isNaN) "nan"
    else if (value.isInfinite) (if (value > 0) "inf" else "-inf")
    else if (math.abs(r) < 9.007199254740992e15) groupThousands(r.toLong)
    else {
      val rounded = new java.math.BigDecimal(value)
        .setScale(0, java.math.RoundingMode.HALF_EVEN)
      val digits = rounded.toBigInteger.abs.toString
      val grouped = digits.reverse.grouped(3).mkString(",").reverse
      (if (rounded.signum() < 0) "-" else "") + grouped
    }
  }

  private def groupThousands(v: Long): String = {
    val digits = java.lang.Long.toString(math.abs(v))
    val n = digits.length
    if (n <= 3) return if (v < 0) "-" + digits else digits
    val sb = new java.lang.StringBuilder(n + n / 3 + 1)
    if (v < 0) sb.append('-')
    val head = n % 3
    if (head > 0) sb.append(digits, 0, head)
    var i = head
    while (i < n) {
      if (sb.length > (if (v < 0) 1 else 0)) sb.append(',')
      sb.append(digits, i, i + 3)
      i += 3
    }
    sb.toString
  }

  /** `_combine_amount_results` (`src/extractor.py:2629-2653`) — 50-char
    * prefix dedupe, ' | ' join, 3000-char cap. */
  def combineAmountResults(results: List[String]): String = {
    val valid = results.filter(r => r != null && Py.strip(r).nonEmpty)
    if (valid.isEmpty) return ""
    val unique = scala.collection.mutable.ListBuffer.empty[String]
    for (r <- valid) {
      val dup = unique.exists(ex =>
        r.length > 50 && ex.length > 50 && r.take(50) == ex.take(50))
      if (!dup) unique += r
    }
    val combined = unique.mkString(" | ")
    if (combined.length > 3000) Py.sliceTo(combined, 2997) + "..."
    else combined
  }
}
