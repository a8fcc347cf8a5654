package perfbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.extract._
import graft.model.{CaseRecord, Doc}
import graft.pipeline.KgJob
import graft.plans.{QualityExprs, TextHashExprs}
import graft.text.Py

/** Single-thread timings of the engine's kernels, outside Spark, over a fixed
  * sample of a workload's documents: no Spark is involved, so these are the
  * per-row costs the Spark stages multiply. Each figure is the median of
  * `reps` passes over the sample, divided by the sample size. */
final class Kernels(sample: Seq[Doc], reps: Int) {

  /** Keeps results alive so the JIT cannot drop the timed work. */
  private var sink = 0L
  private def keep(x: Any): Unit = sink += (if (x == null) 0 else x.hashCode)

  var kernelErrors = 0L

  /** Per-field extraction cost, routed the way `ExtractAll.extractInformation`
    * routes a document, so the field costs add up to the record cost. */
  def extractNsPerDoc(): Map[String, Double] = {
    val fields = Seq("clean", "lang_route", "case_number", "trial_date", "court_name",
      "parties", "judge", "case_type", "lawyers", "judgment_result", "amounts",
      "chinese_doc", "corrigendum", "record", "outspans")
    val passes = (1 to reps).map { _ =>
      val acc = mutable.Map(fields.map(_ -> 0L): _*)
      var errors = 0L
      def time[T](f: String)(body: => T): Option[T] = {
        val t0 = System.nanoTime()
        val r = try Some(body) catch { case _: Exception => errors += 1; None }
        acc(f) += System.nanoTime() - t0
        r.foreach(keep)
        r
      }
      sample.foreach { d =>
        val fileName = d.doc_id + ".pdf"
        time("clean")(Cleaners.cleanPdfIndexArtifacts(ExtractAll.fullText(d)))
          .filter(_.nonEmpty).foreach { text =>
          val route = time("lang_route") {
            val lang = LangDoc.detectLanguage(text)
            (lang, lang == "chinese" && LangDoc.isChineseDocument(text),
              LangDoc.detectDocumentType(fileName))
          }
          route.foreach { case (lang, chinese, docType) =>
            if (chinese) time("chinese_doc")(ChineseDoc.process(text, d.doc_id, fileName))
            else if (time("corrigendum")(LangDoc.isCorrigendum(text)).contains(true))
              time("corrigendum")(Corrigendum.extract(text, d.doc_id, fileName, lang))
            else {
              val first = Py.sliceTo(text, 15000)
              time("case_number")(CaseNumber.extract(first, lang))
              time("trial_date")(TrialDate.extract(first, lang))
              time("court_name")(CourtName.extract(first, lang))
              time("parties")((Parties.extractPlaintiff(first, lang, docType),
                Parties.extractDefendant(first, lang, docType)))
              time("judge")(Judge.extract(first, lang))
              time("case_type")(CaseType.extract(first, lang, docType))
              time("lawyers")(Lawyers.extractLawyerSegment(text, lang))
              time("judgment_result")(JudgmentResult.extract(text, lang))
              time("amounts")((Amounts.extract(text, lang, "claim"),
                Amounts.extract(text, lang, "judgment")))
            }
          }
        }
        time("record")(ExtractAll.extractRecord(d))
        time("outspans")(ExtractAll.outSpans(d))
      }
      kernelErrors = errors
      acc.toMap
    }
    fields.map(f => f -> Stats.median(passes.map(_(f).toDouble)) / sample.size).toMap
  }

  /** `graft.plans` kernels over the sample's text, each minus a
    * pass-through scan of the same input. */
  def plansNsPerRow(): Map[String, Double] = {
    val texts = sample.map(d => UTF8String.fromString(ExtractAll.fullText(d))).toArray
    val tokens = texts.map(TextHashExprs.asciiTokens)
    def timeAll[A](in: Array[A])(f: A => Any): Double =
      Stats.median((1 to reps).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < in.length) { keep(f(in(i))); i += 1 }
        (System.nanoTime() - t0).toDouble
      }) / in.length
    val scanText = timeAll(texts)(_.hashCode)
    val scanTokens = timeAll(tokens)((a: ArrayData) => {
      var h = 0; var i = 0
      while (i < a.numElements()) { h += a.getUTF8String(i).hashCode; i += 1 }
      h
    })
    Map(
      "gopher_signals" -> (timeAll(texts)(QualityExprs.gopherSignals) - scanText),
      "norm_md5" -> (timeAll(texts)(TextHashExprs.normMd5) - scanText),
      "ascii_tokens" -> (timeAll(texts)(TextHashExprs.asciiTokens) - scanText),
      "minhash_sig" -> (timeAll(tokens)(TextHashExprs.minhashSig(_, 8)) - scanTokens),
      "token_shingles_md5" -> (timeAll(texts)(TextHashExprs.tokenShinglesMd5(_, 4)) - scanText),
      "ws_normalize" -> (timeAll(texts)(TextHashExprs.wsNormalize(_, true, true)) - scanText))
  }

  /** The knowledge graph's record parsers over the sample's records. */
  def kgNsPerRecord(records: Seq[CaseRecord]): Map[String, Double] = {
    val rs = records.toArray
    def timeAll(f: CaseRecord => Any): Double =
      Stats.median((1 to reps).map { _ =>
        val t0 = System.nanoTime()
        rs.foreach(r => keep(f(r)))
        (System.nanoTime() - t0).toDouble
      }) / math.max(1, rs.length)
    Map(
      "parse_parties" -> timeAll(r => (KgJob.parseMultipleParties(r.plaintiff),
        KgJob.parseMultipleParties(r.defendant))),
      "parse_lawyers" -> timeAll(r => KgJob.parseLawyerSegment(r.lawyer)))
  }
}
