package graft.pipeline

import java.util.Locale

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{Doc, Span}

/** Deterministic synthetic corpus generator for throughput/scaling runs
  * (FIXTURES.md §3 at scale). Each doc is a pure function of its index
  * (java.util.Random LCG is spec-fixed → platform-stable), generated
  * distributed via `spark.range(n)` — no driver-side materialization, so
  * corpus size is bounded only by cluster storage. The golden-test corpus
  * is separate (committed JSON, seed 42); this generator feeds BENCH.
  */
object CorpusGen {

  private val surnames = Array("WONG", "CHAN", "LEE", "CHEUNG", "LAM", "NG",
    "HO", "TANG", "YUEN", "LAU")
  private val given = Array("TAI MAN", "SIU MING", "KA HO", "WAI YIN",
    "CHI KEUNG", "MEI LING", "KWOK WING", "YUK LAN")
  private val companies = Array("GOLDEN DRAGON TRADING LIMITED",
    "EVERBRIGHT LOGISTICS LIMITED", "SUNRISE PROPERTY HOLDINGS LIMITED",
    "HARBOUR VIEW ENGINEERING LIMITED", "PEARL RIVER GARMENTS LIMITED",
    "FORTUNE STAR ELECTRONICS LIMITED")
  private val judges = Array("Anthony Chan", "Peter Wong", "David Lok",
    "Wilson Chan", "Godfrey Lam", "Mimmie Chan")
  private val filler = Array(
    "The parties entered into a written agreement for the supply of goods and services in Hong Kong.",
    "It is common ground that the consignment was delivered to the warehouse on the agreed date.",
    "The defendant disputes the quality of the goods and relies on the inspection report.",
    "Counsel referred the court to a number of authorities on the construction of commercial contracts.",
    "The correspondence between the parties shows a protracted negotiation over the outstanding invoices.",
    "The witness gave evidence that the shipment was inspected upon arrival at the container terminal.",
    "The burden of proof lies on the party asserting the affirmative of the issue.",
    "The invoices were issued monthly and payment was due within thirty days of each invoice.")
  private val zhFiller = Array(
    "本案涉及雙方就貨物買賣合約所產生的糾紛，原告人聲稱被告人未有依約付款。",
    "雙方於合約中訂明貨物須於指定日期前交付至香港的倉庫。",
    "被告人對貨物的品質提出爭議，並依賴檢驗報告作為證據。",
    "法庭須考慮同期文件以評估證人的可信性。")
  private val zhNames = Array("陳大文", "黃小明", "李志強", "張美玲", "劉國輝")
  private val zhJudges = Array("廖文健", "歐陽桂如", "陳嘉信")

  def genDoc(idx: Long, seed: Long = 42L): Doc = {
    val rng = new java.util.Random(seed * 1000003L + idx)
    val kind = rng.nextInt(100)
    if (kind < 70) genEnglish(idx, rng, oversized = false)
    else if (kind < 85) genChinese(idx, rng)
    else if (kind < 97) genEnglish(idx, rng, oversized = false, dccj = true)
    else genEnglish(idx, rng, oversized = true) // ~3% giants → skew
  }

  private def person(rng: java.util.Random): String =
    s"${surnames(rng.nextInt(surnames.length))} ${given(rng.nextInt(given.length))}"

  private def bodyPage(rng: java.util.Random): String = {
    val paras = (0 until 2 + rng.nextInt(3)).map { _ =>
      (0 until 2 + rng.nextInt(4)).map(_ => filler(rng.nextInt(filler.length))).mkString(" ")
    }
    paras.mkString("\n\n")
  }

  private def genEnglish(idx: Long, rng: java.util.Random, oversized: Boolean,
                         dccj: Boolean = false): Doc = {
    val num = 1 + rng.nextInt(2999)
    val year = 2015 + rng.nextInt(10)
    val prefix = if (dccj) "DCCJ" else "HCA"
    val docId = "%s%06d_%d_%d".formatLocal(Locale.ROOT, prefix, num, year, idx)
    val pl = if (rng.nextBoolean()) person(rng) else companies(rng.nextInt(companies.length))
    val df = if (rng.nextInt(10) < 4) person(rng) else companies(rng.nextInt(companies.length))
    val judge = judges(rng.nextInt(judges.length))
    val claim = (80 + rng.nextInt(8000)) * 1000L

    val court = if (dccj)
      Seq("IN THE DISTRICT COURT OF THE", "HONG KONG SPECIAL ADMINISTRATIVE REGION",
        s"CIVIL ACTION NO $num OF $year")
    else
      Seq("IN THE HIGH COURT OF THE", "HONG KONG SPECIAL ADMINISTRATIVE REGION",
        "COURT OF FIRST INSTANCE", s"ACTION NO $num OF $year")

    val page0 = (Seq(s"$prefix $num/$year") ++ court ++ Seq(
      "____________", "BETWEEN", s"  $pl", "  Plaintiff", " and ",
      s"  $df", "  Defendant", "____________",
      s"Before: Hon $judge J in Chambers",
      s"Date of Hearing: ${1 + rng.nextInt(28)} May $year",
      "J U D G M E N T")).mkString("\n")

    val intro = "Introduction\n" +
      "This action arises out of a commercial dispute between the parties.\n" +
      s"The plaintiff seeks payment of the sum of HK$$${"%,d".formatLocal(Locale.ROOT, claim)} together with interest.\n" +
      "The defendant denies liability and counterclaims for set-off.\n"

    val nBody = if (oversized) 150 + rng.nextInt(100) else 3 + rng.nextInt(10)
    val body = (0 until nBody).map(_ => bodyPage(rng))

    val order = "ORDER\n" +
      s"1. Judgment be entered for the plaintiff in the sum of HK$$${"%,d".formatLocal(Locale.ROOT, claim / 2)}.\n" +
      "2. Costs of the action be paid by the defendant.\n"
    val footer = s"Mr John Tse, instructed by Wong & Co, for the plaintiff\n" +
      s"Ms Mary Cheung, instructed by Lee Partners, for the defendant"

    val pages = Seq(page0, intro) ++ body ++ Seq(order, footer)
    mkSpans(docId, pages, rng)
  }

  private def genChinese(idx: Long, rng: java.util.Random): Doc = {
    val num = 1 + rng.nextInt(1999)
    val year = 2016 + rng.nextInt(9)
    val docId = "HCA%06d_%dC_%d".formatLocal(Locale.ROOT, num, year, idx)
    val pl = zhNames(rng.nextInt(zhNames.length))
    val df = zhNames(rng.nextInt(zhNames.length))
    val judge = zhJudges(rng.nextInt(zhJudges.length))
    val page0 = Seq(s"HCA $num/$year", "香港特別行政區", "高等法院原訟法庭",
      s"民事訴訟 $year 年第 $num 號", "____________",
      s"原告人 $pl", "及", s"被告人 $df", "____________",
      s"主審法官：$judge",
      s"聆訊日期：$year 年 ${1 + rng.nextInt(12)} 月 ${1 + rng.nextInt(28)} 日",
      "判 案 書").mkString("\n")
    val body = (0 until 2 + rng.nextInt(4)).map { _ =>
      (0 until 2 + rng.nextInt(3)).map(_ => zhFiller(rng.nextInt(zhFiller.length))).mkString("\n\n")
    }
    val footer = Seq(s"( $judge )", "高等法院原訟法庭法官", "",
      s"原告人：$pl", s"第一被告人：$df").mkString("\n")
    mkSpans(docId, Seq(page0) ++ body ++ Seq(footer), rng)
  }

  private def mkSpans(docId: String, pages: Seq[String], rng: java.util.Random): Doc = {
    val spans = Seq.newBuilder[Span]
    var off = 0
    var mediaN = 0
    pages.foreach { p =>
      spans += Span("text", p, "", off); off += 1
      if (rng.nextInt(100) < 12) {
        mediaN += 1
        spans += Span("media", "", s"img://$docId/$mediaN", off); off += 1
      }
    }
    Doc(docId, spans.result())
  }

  /** Distributed generation: each task materializes only its index range. */
  def generate(spark: SparkSession, nDocs: Long, numPartitions: Int,
               seed: Long = 42L): Dataset[Doc] = {
    import spark.implicits._
    spark.range(0, nDocs, 1, numPartitions).map(i => genDoc(i, seed))
  }
}
