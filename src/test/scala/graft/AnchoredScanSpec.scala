package graft

import java.util.regex.Pattern

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{Amounts, CaseType, Cleaners, CourtName, ExtractAll, Judge, JudgmentResult, Lawyers, TrialDate}
import graft.pipeline.CorpusGen
import graft.text.Py
import graft.text.Py.Rx

/** Differential gate for the kernel's [[Py.Rx]] patterns and the
  * single-pass whitespace collapse: every `Rx` the extraction fields ship
  * is compared, through one helper, against the plain JDK scan of the same
  * regex with no guard and no anchor, over the synthetic corpus AND
  * adversarial inputs (Unicode case-fold traps, needle boundary cases) AND
  * fuzz. Any divergence is a correctness bug, not a perf trade-off: a guard
  * asserts "every match contains one of these literals", an anchor "every
  * match starts with one of these literals", and this spec is what makes
  * those assertions safe. */
class AnchoredScanSpec extends AnyFunSuite {

  // ---- corpus + adversarial inputs ------------------------------------

  private lazy val corpusTexts: Seq[String] = {
    val docs = (0L until 60L).map(i => CorpusGen.genDoc(i))
    docs.flatMap { d =>
      val t = Cleaners.cleanPdfIndexArtifacts(ExtractAll.fullText(d))
      Seq(t, Py.sliceTo(t, 15000), Py.sliceFrom(t, math.max(0, t.length - 8000)))
    }
  }

  private val JusticeDotted = "Reasons for decision\nJUSTİCE Alan Brown sitting\nin open court.\n"
  private val JusticeLongS = "Reasons for decision\nJuſtice Alan Brown sitting\nin open court.\n"
  // no other Method-1 lawyer literal ("counsel", "represented", "mr", "ms", "miss")
  private val InstructedParagraph = "İnstructed by Wong & Co for the plaintiff at the trial of this action."

  // Unicode case-folding traps: long s (ſ folds to s), Kelvin sign (K
  // folds to k), dotted capital I (İ folds to i), full-width digits and
  // letters, plus needle-boundary constructions.
  private val adversarial: Seq[String] = Seq(
    "",
    "uſd 1,234.56 million owing to the plaintiff",
    "HK$9,999.00 plus interest thereon", // Kelvin sign for K
    "İntroduction:\nline one here\nline two here\nline three here\nline four\n",
    "sum of HK$1,000,000.00 and the sum of USD2,500.75",
    "the sum of HK$88.00 | amount of USD77.00",
    "ＵＳＤ１２３ and ４５６ dollars", // full-width (regex \d matches Nd)
    "４５６,７８９ HKD",
    "Date of Hearing: 3 March 2021\nDATE OF JUDGMENT : 5 May 2022\n",
    "DATES OF HEARING:\n1 June 2020\n",
    "IN THE HIGH COURT OF THE\nHONG KONG SPECIAL ADMINISTRATIVE REGION\nCOURT OF FIRST INSTANCE\nACTION NO 123 OF 2020",
    "in the district court of hong kong COURT of appeal BETWEEN",
    "Mr. John Smith, instructed by Wong & Co., for the Plaintiff",
    "MISS Jane Doe for the 1st Defendant; counsel for the defendant: A. B.",
    "The plaintiff was not represented. THE DEFENDANT did not appear.",
    "ORDER\nCosts be assessed. Judgment entered for the plaintiff.\n",
    "I order that the defendant pay HK$5,000. I would dismiss the claim.",
    "costs assessed at $12,345.67; interest awarded at 8% per annum",
    "For these reasons, the application is granted with costs to follow.",
    "背景:\n本案涉及一宗合約糾紛的申請個案內容如下所述之詳情一二三四五六七八九十\n判決日期: 2020年3月4日\n",
    "聆訊日期：2021年1月2日\n命令:\n被告人須支付港幣100,000元\n本庭裁定原告人得直\n",
    "港幣1,234萬 人民币5,000元 美金99.50",
    "thethethe sum of sum of HK$1.00",
    "mr mr mr miss ms instructed instructed counsel counsel",
    "I I I I dismiss grant allow the appeal",
    "no matches whatsoever in this plain sentence",
    "HK$ (currency sign but no digits) and US$ likewise",
    "a,5 USD and x999 US Dollars 123", // class-anchored edge: match starts at ','
    ",123,456 HKD",
    "     spaced text with odd whitespace",
    "tab\tand\nnewline\r\nand verticalspace.",
    "İİİ ſſſ KKK mixed with MILLION and Thousand",
    // fold traps for guards: İ and ſ fold onto ASCII under the regex fold
    // but not under String.toLowerCase
    JusticeDotted, JusticeLongS, InstructedParagraph,
    // required-literal traps for the amount phrases
    "damages of HK$1,000 were awarded", "compensation of US$2,500.50 only",
    "costs assessed at $12,345 and costs of USD 99")

  private lazy val allInputs: Seq[String] = corpusTexts ++ adversarial ++ fuzzStrings

  private lazy val fuzzStrings: Seq[String] = {
    val rng = new java.util.Random(20260819L)
    val pieces = Array(
      "HK$", "US$", "USD", "RMB", "$", "1,234", "567.89", " million", " thousand",
      "sum of ", "amount of ", "the ", "principal sum of ", "outstanding balance of ",
      "Hong Kong Dollars ", "US Dollars", "HKD", "dollars", "\n", " ", "  ", "\t",
      "Introduction:\n", "BACKGROUND.\n", "Facts\n", "This is an action ",
      "The plaintiff seeks ", "ORDER\n", "Accordingly, ", "In the result ",
      "Date of Hearing: ", "Hearing Date ", "IN THE ", "COURT OF APPEAL",
      "Mr. Chan ", "instructed by ", "counsel ", "for the defendant ",
      "not represented", "did not appear", "I order ", "costs ", "interest ",
      "judgment ", "dismissed", "granted", "ſ", "K", "İ", "４", "，",
      "港幣", "美元", "判令", "命令", "背景\n", "日期：", "line line line\n",
      "aaa.", "x", "-", "- 3 -", "___", "_____")
    (0 until 250).map { _ =>
      val n = 1 + rng.nextInt(40)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        val p = pieces(rng.nextInt(pieces.length))
        // random case mutation to stress the fold
        sb.append(if (rng.nextBoolean()) p else if (rng.nextBoolean()) p.toUpperCase else p.toLowerCase)
      }
      sb.toString
    }
  }

  // ---- helper ----------------------------------------------------------

  /** Every scan of `rx` equals the plain string-API scan of its regex (no
    * guard, no anchor), with and without a caller-supplied fold. */
  private def checkRx(rx: Rx, where: String): Unit = {
    allInputs.foreach { s =>
      val plain = Py.findIter(rx.p, s, rx.flags)
      val at = s"[$where] <${rx.p}> on <${s.take(120)}>"
      assert(rx.findIter(s) == plain, s"findIter mismatch $at")
      assert(rx.findIter(s, Py.foldCase(s)) == plain, s"findIter(folded) mismatch $at")
      assert(rx.findIter(s, maxMatches = 2) == plain.take(2), s"findIter(max=2) mismatch $at")
      assert(rx.search1(s) == Py.search1(rx.p, s, rx.flags), s"search1 mismatch $at")
      assert(rx.contains(s) == Py.contains(rx.p, s, rx.flags), s"contains mismatch $at")
      assert(rx.findAll(s) == Py.findAll(rx.p, s, rx.flags), s"findAll mismatch $at")
    }
  }

  // ---- the shipped patterns ---------------------------------------------

  test("Amounts window patterns: anchored == plain") {
    for (lang <- Seq("english", "chinese"); rx <- Amounts.enhancedAmountPatterns(lang)) {
      assert(rx.anchor.nonEmpty, s"amount pattern without an anchor: ${rx.p}")
      checkRx(rx, s"Amounts/$lang")
    }
  }

  test("Amounts number-analysis patterns: anchored == plain") {
    Amounts.numberAnalysisPatterns.foreach { rx =>
      assert(rx.anchor.nonEmpty, s"analysis pattern without an anchor: ${rx.p}")
      checkRx(rx, "Amounts/analysis")
    }
    // the damages/compensation/costs phrases need no "sum of": the phrase
    // match and the bare "$" match both count, as in the unguarded scan
    assert(Amounts.extractAmountNumbersFromText("damages of $500 were awarded") == "$1,000")
  }

  test("CaseType english + chinese rows: anchored == plain") {
    CaseType.englishPatterns.foreach(checkRx(_, "CaseType/en"))
    CaseType.chinesePatterns.foreach(checkRx(_, "CaseType/zh"))
  }

  test("TrialDate patterns: anchored == plain") {
    TrialDate.englishPatterns.foreach(checkRx(_, "TrialDate/en"))
    TrialDate.chinesePatterns.foreach(checkRx(_, "TrialDate/zh"))
  }

  test("CourtName english patterns: anchored == plain") {
    CourtName.englishPatterns.foreach(checkRx(_, "CourtName/en"))
    CourtName.chinesePatterns.foreach(checkRx(_, "CourtName/zh"))
  }

  test("Lawyers patterns: anchored == plain") {
    Lawyers.lawyerPatterns.foreach(checkRx(_, "Lawyers/main"))
    Lawyers.clearPatterns.foreach(checkRx(_, "Lawyers/clear"))
    checkRx(Lawyers.namePattern, "Lawyers/name")
    // the cascade-level literal check folds the way the regex does
    assert(Lawyers.extractEnglishLawyerSegment(InstructedParagraph, InstructedParagraph) ==
      Lawyers.cleanLawyerSegment(InstructedParagraph))
  }

  test("JudgmentResult rows: anchored == plain") {
    (JudgmentResult.orderPatterns ++ JudgmentResult.decisionPatterns)
      .foreach(checkRx(_, "JudgmentResult/en"))
  }

  test("Judge patterns: guarded == plain, and the guards fold like the regex") {
    (Judge.specialPatterns ++ Judge.beforePatterns ++ Judge.alternativePatterns)
      .foreach(checkRx(_, "Judge/en"))
    // the (?i) name pattern takes "sitting" too, as it does after "JUSTICE"
    assert(Judge.extractEnglishJudge(JusticeDotted) == "JUSTİCE Alan Brown sitting")
    assert(Judge.extractEnglishJudge(JusticeLongS) == "Juſtice Alan Brown sitting")
  }

  // ---- whitespace collapse ----------------------------------------------

  test("isRegexWs equals regex \\s under UNICODE_CHARACTER_CLASS for every BMP char") {
    val ws = Pattern.compile("""\s""", Pattern.UNICODE_CHARACTER_CLASS)
    var cp = 0
    while (cp <= 0xFFFF) {
      val c = cp.toChar
      // lone surrogates can't round-trip through a matcher region reliably;
      // the regex engine treats them as non-whitespace, as does isRegexWs
      val expected = if (Character.isSurrogate(c)) false else ws.matcher(String.valueOf(c)).matches()
      assert(Py.isRegexWs(c) == expected, f"isRegexWs mismatch at U+$cp%04X")
      cp += 1
    }
  }

  test("wsCollapse equals sub(\\s+ -> single space) on corpus + adversarial + fuzz") {
    allInputs.foreach { s =>
      assert(Py.wsCollapse(s) == Py.sub("""\s+""", " ", s),
        s"wsCollapse mismatch on <${s.take(120)}>")
    }
    // dense whitespace torture strings
    val rng = new java.util.Random(7L)
    val wsChars = Array(' ', '\t', '\n', '\r', '\u000B', '\u000C', '\u0085',
      '\u00A0', '\u1680', '\u2000', '\u2003', '\u2028', '\u2029', '\u202F', '\u3000',
      '\u200B' /* not ws under \\s — negative case */)
    (0 until 200).foreach { _ =>
      val n = rng.nextInt(60)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        if (rng.nextBoolean()) sb.append(wsChars(rng.nextInt(wsChars.length)))
        else sb.append(('a' + rng.nextInt(26)).toChar)
      }
      val s = sb.toString
      assert(Py.wsCollapse(s) == Py.sub("""\s+""", " ", s), s"wsCollapse fuzz mismatch on <$s>")
    }
  }

  test("formatThousands long fast path equals the BigDecimal half-even path") {
    def slow(value: Double): String = {
      val rounded = new java.math.BigDecimal(value)
        .setScale(0, java.math.RoundingMode.HALF_EVEN)
      val digits = rounded.toBigInteger.abs.toString
      val grouped = digits.reverse.grouped(3).mkString(",").reverse
      (if (rounded.signum() < 0) "-" else "") + grouped
    }
    val fixed = Seq(0.0, 0.5, 1.5, 2.5, 999.5, 1000.0, 1234.56, 999999.5,
      1000000.0, 2.5e9, 123456789.99, 1e15, 9.9e15, 1.23e18, 0.4, 1234567.0)
    val rng = new java.util.Random(99L)
    val rand = (0 until 3000).map(_ => rng.nextDouble() * math.pow(10, rng.nextInt(17)))
    (fixed ++ rand).foreach { v =>
      assert(Amounts.formatThousands(v) == slow(v), s"formatThousands($v)")
    }
  }

  test("foldCase is length-preserving and agrees with the engine's fold on traps") {
    val traps = Seq("ſ" -> "s", "K" -> "k", "İ" -> "i", "A" -> "a", "ß" -> "ß")
    traps.foreach { case (in, out) =>
      assert(Py.foldCase(in) == out, s"foldCase($in)")
      assert(Py.foldCase(in).length == in.length)
    }
    allInputs.foreach(s => assert(Py.foldCase(s).length == s.length))
  }

  // ---- end-to-end: the optimized kernel fields are byte-identical -------

  test("full extraction output unchanged by the anchored scans (spot diff vs plain-scan fields)") {
    // The golden suite + differential sweep are the primary gates; here we
    // re-derive two hot fields through the PLAIN scanners and compare.
    corpusTexts.take(40).foreach { t =>
      val lang = graft.extract.LangDoc.detectLanguage(t)
      // trial date via plain search1 cascade
      val plainDate: String = {
        if (lang == "english") {
          TrialDate.englishPatterns.collectFirst {
            case rx if Py.search1(rx.p, t, Py.I).exists { raw =>
              val c = TrialDate.cleanTrialDate(Py.strip(raw)); c.nonEmpty && c.length > 5
            } => TrialDate.cleanTrialDate(Py.strip(Py.search1(rx.p, t, Py.I).get))
          }.getOrElse("")
        } else {
          TrialDate.chinesePatterns.collectFirst {
            case rx if Py.search1(rx.p, t).exists { raw =>
              val c = TrialDate.cleanTrialDate(Py.strip(raw)); c.nonEmpty && c.length > 3
            } => TrialDate.cleanTrialDate(Py.strip(Py.search1(rx.p, t).get))
          }.getOrElse("")
        }
      }
      val guard = if (lang == "english") Py.foldCase(t).contains("date") else t.contains("日期")
      val expected = if (guard) plainDate else ""
      assert(TrialDate.extract(t, lang) == expected, "TrialDate divergence")
      // amounts via the real (anchored) path twice — determinism sanity
      assert(Amounts.extract(t, lang, "claim") == Amounts.extract(t, lang, "claim"))
    }
  }
}
