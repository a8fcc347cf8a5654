package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{Amounts, CaseType, Cleaners, ExtractAll, Parties}
import graft.model.{Doc, Span}
import graft.pipeline.{CorpusGen, ExtractJob, KgJob}
import graft.text.Py

/** Property-style tests (SURVEY.md §5.2.4) over the pure kernel functions,
  * sampled deterministically (seeded RNG — no extra test deps needed in the
  * offline environment). */
class KernelPropertySpec extends AnyFunSuite {

  private def rng = new scala.util.Random(42)

  private val surnames = Seq("WONG", "CHAN", "LEE", "CHEUNG", "LAM")
  private val givens = Seq("TAI MAN", "SIU MING", "KA HO", "MEI LING")

  test("party format∘parse round-trips names (render is invertible)") {
    val r = rng
    for (_ <- 1 to 200) {
      val n = 1 + r.nextInt(6)
      val names = (1 to n).map(_ =>
        s"${surnames(r.nextInt(surnames.length))} ${givens(r.nextInt(givens.length))}")
        .distinct.toList
      val parties = names.zipWithIndex.map { case (nm, i) => Parties.Party(nm, Some(i + 1)) }
      val rendered = Parties.formatPartiesSmart(parties, "Defendant")
      assert(KgJob.parseMultipleParties(rendered) == names,
        s"round-trip failed for $names via '$rendered'")
    }
  }

  test("amount parser scaling laws: 'X million' = 1e6 * X etc.") {
    val r = rng
    for (_ <- 1 to 100) {
      val x = 1 + r.nextInt(999)
      val base = Amounts.parseAmountMatch(s"HK$$$x").get._1
      assert(Amounts.parseAmountMatch(s"HK$$$x million").get._1 == base * 1e6)
      assert(Amounts.parseAmountMatch(s"HK$$$x billion").get._1 == base * 1e9)
      assert(Amounts.parseAmountMatch(s"HK$$$x thousand").get._1 == base * 1e3)
      assert(Amounts.parseAmountMatch(s"港幣${x}万").get._1 == base * 1e4)
      assert(Amounts.parseAmountMatch(s"${x}億 港元").get._1 == base * 1e8)
    }
  }

  test("currency detection ordering (HK before US before RMB before $)") {
    assert(Amounts.parseAmountMatch("HK$100").get._2 == "HK$")
    assert(Amounts.parseAmountMatch("US$100").get._2 == "USD")
    assert(Amounts.parseAmountMatch("RMB100").get._2 == "RMB")
    assert(Amounts.parseAmountMatch("$100").get._2 == "$")
    // 'HK' wins over 'US' when both present (reference if-ordering)
    assert(Amounts.parseAmountMatch("HK$100 US").get._2 == "HK$")
  }

  test("segment combiner never exceeds its budget, takes ≤5 segments") {
    val r = rng
    for (_ <- 1 to 200) {
      val segs = List.fill(r.nextInt(12))(
        CaseType.Segment(("abc"(r.nextInt(3)).toString) * (10 + r.nextInt(600)),
          1 + r.nextInt(10)))
      for (budget <- Seq(200, 500, 3000)) {
        val out = CaseType.combineComprehensiveSegments(segs, budget)
        assert(out.length <= budget)
        assert(out.split(java.util.regex.Pattern.quote(" | ")).length <= 5 || out.endsWith("..."))
      }
    }
  }

  test("formatThousands matches Python ',.0f' behavior incl. half-even") {
    assert(Amounts.formatThousands(1234567.0) == "1,234,567")
    assert(Amounts.formatThousands(100.5) == "100") // banker's rounding
    assert(Amounts.formatThousands(101.5) == "102")
    assert(Amounts.formatThousands(0.4) == "0")
    assert(Amounts.formatThousands(1e9) == "1,000,000,000")
    // Python: f"{float('9' * 400):,.0f}" == "inf"
    assert(Amounts.formatThousands(Double.PositiveInfinity) == "inf")
    assert(Amounts.formatThousands(Double.NegativeInfinity) == "-inf")
    assert(Amounts.formatThousands(Double.NaN) == "nan")
  }

  test("a claim too large for a double still yields a record") {
    val text = "IN THE HIGH COURT OF THE HONG KONG SPECIAL ADMINISTRATIVE REGION\n" +
      "The plaintiff claims the sum of HK$" + ("9" * 400) + " together with interest and costs.\n" +
      ("The parties filed evidence and the matter proceeded to trial before the court.\n" * 40)
    val doc = Doc("HCA000001_2020", Seq(Span("text", text, "", 0)))
    val record = ExtractAll.extractRecord(doc)
    assert(record.map(_.claim_amount).contains("HK$inf"), record.toString)
    assert(ExtractJob.extractPartition(Iterator(doc)).map(_.doc_id).toList == List(doc.doc_id))
  }

  test("extractPartition drops a document whose kernel throws and keeps the rest") {
    val good = CorpusGen.genDoc(0L)
    val bad = Doc("BAD0001_2020", LazyList.fill[Span](1)(throw new IllegalStateException("bad span")))
    assert(ExtractJob.extractPartition(Iterator(good, bad, good)).map(_.doc_id).toList ==
      List(good.doc_id, good.doc_id))
  }

  test("extractPartition logs one WARN per dropped document with its doc_id and exception") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("extract-drops", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage}")
    }
    val logger = LogManager.getLogger("graft.pipeline.ExtractJob").asInstanceOf[CoreLogger]
    val level = logger.getLevel
    appender.start()
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try {
      val good = CorpusGen.genDoc(0L)
      val bad = Doc("BAD0002_2020", LazyList.fill[Span](1)(throw new IllegalStateException("bad span")))
      assert(ExtractJob.extractPartition(Iterator(bad, good)).map(_.doc_id).toList == List(good.doc_id))
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
    assert(lines.toArray.toList ==
      List("WARN extraction dropped doc_id=BAD0002_2020: java.lang.IllegalStateException: bad span"))
  }

  test("artifact cleaner output is always a suffix of its input") {
    val r = rng
    val pool = Seq("A", "B", "C", "Z", "", "IN THE HIGH COURT OF THE",
      "some ordinary body line of text", "ACTION NO 5 OF 2020")
    for (_ <- 1 to 300) {
      val lines = List.fill(r.nextInt(120))(pool(r.nextInt(pool.length)))
      val text = lines.mkString("\n")
      val cleaned = Cleaners.cleanPdfIndexArtifacts(text)
      assert(text.endsWith(cleaned),
        "cleaner must only drop a prefix of lines — span reconstruction depends on it")
    }
  }

  test("cleaner never touches a doc with critical keywords in first 50 lines") {
    val r = rng
    for (_ <- 1 to 100) {
      val noise = List.fill(60)(Seq("A", "B", "C")(r.nextInt(3)))
      val text = ("IN THE HIGH COURT OF THE" :: noise).mkString("\n")
      assert(Cleaners.cleanPdfIndexArtifacts(text) == text)
    }
  }

  test("Py.slice mirrors Python clamping semantics") {
    val r = rng
    for (_ <- 1 to 500) {
      val s = r.alphanumeric.take(r.nextInt(40)).mkString
      val a = r.nextInt(101) - 50
      val b = r.nextInt(101) - 50
      val n = s.length
      def norm(i: Int) = math.max(0, math.min(n, if (i < 0) n + i else i))
      val (x, y) = (norm(a), norm(b))
      val expect = if (x >= y) "" else s.substring(x, y)
      assert(Py.slice(s, a, b) == expect, s"slice('$s', $a, $b)")
    }
  }

  test("Py.split keeps trailing empties like Python str.split") {
    assert(Py.split("a\n", "\n") == List("a", ""))
    assert(Py.split("", "\n") == List(""))
    assert(Py.split("\n\n", "\n") == List("", "", ""))
    assert(Py.splitWs("  a  b ") == List("a", "b"))
    assert(Py.splitWs("   ") == Nil)
  }
}
