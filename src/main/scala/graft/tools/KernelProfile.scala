package graft.tools

import graft.extract._
import graft.pipeline.CorpusGen
import graft.text.Py

/** Single-threaded kernel profiler (no Spark): per-field extraction cost
  * over a generated corpus. `sbt "runMain graft.tools.KernelProfile [n]"`. */
object KernelProfile {

  /** Raw-thread control: same kernel work fanned over K plain threads (no
    * Spark) — measures the hardware's own scaling ceiling so the Spark job's
    * efficiency can be judged against it.
    * `sbt "runMain graft.tools.KernelProfile threads <nDocs> <k1,k2,...>"` */
  def threadScaling(nDocs: Int, ks: Seq[Int]): Unit = {
    val docs = (0L until nDocs).map(i => CorpusGen.genDoc(i))
    val texts = docs.map { d =>
      val raw = ExtractAll.fullText(d)
      (d.doc_id, Cleaners.cleanPdfIndexArtifacts(raw))
    }.toArray
    // warmup
    texts.take(500).foreach { case (id, t) => ExtractAll.extractInformation(t, id, id + ".pdf") }
    for (k <- ks) {
      val times = (1 to 3).map { _ =>
        val idx = new java.util.concurrent.atomic.AtomicInteger(0)
        val t0 = System.nanoTime()
        val threads = (1 to k).map { _ =>
          new Thread(() => {
            var i = idx.getAndIncrement()
            while (i < texts.length) {
              val (id, t) = texts(i)
              ExtractAll.extractInformation(t, id, id + ".pdf")
              i = idx.getAndIncrement()
            }
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        (System.nanoTime() - t0) / 1e9
      }
      val best = times.min
      println("""{"metric":"thread_scaling","threads":%s,"docs":%s,"best_sec":%.2f,"docs_per_sec":%.1f}"""
        .formatLocal(java.util.Locale.ROOT, k, nDocs, best, nDocs / best))
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("threads")) {
      val nDocs = if (args.length > 1) args(1).toInt else 20000
      val ks = if (args.length > 2) args(2).split(",").map(_.toInt).toSeq else Seq(8, 32)
      threadScaling(nDocs, ks)
      return
    }
    val n = if (args.length > 0) args(0).toInt else 2000
    val docs = (0L until n).map(i => CorpusGen.genDoc(i))
    val texts = docs.map { d =>
      val raw = ExtractAll.fullText(d)
      (d.doc_id, Cleaners.cleanPdfIndexArtifacts(raw))
    }
    val totalChars = texts.map(_._2.length.toLong).sum

    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      println("%-22s %7.2fs  %8.1f Mchars/s".formatLocal(java.util.Locale.ROOT, name, dt, totalChars / dt / 1e6))
    }

    // warmup
    texts.take(200).foreach { case (id, t) => ExtractAll.extractInformation(t, id, id + ".pdf") }

    time("full_extract") {
      texts.foreach { case (id, t) => ExtractAll.extractInformation(t, id, id + ".pdf") }
    }
    time("lang+route") {
      texts.foreach { case (_, t) =>
        val l = LangDoc.detectLanguage(t); LangDoc.isChineseDocument(t); LangDoc.isCorrigendum(t)
      }
    }
    time("case_number") {
      texts.foreach { case (_, t) => CaseNumber.extract(Py.sliceTo(t, 15000), "english") }
    }
    time("trial+court") {
      texts.foreach { case (_, t) =>
        val fp = Py.sliceTo(t, 15000)
        TrialDate.extract(fp, "english"); CourtName.extract(fp, "english")
      }
    }
    time("parties") {
      texts.foreach { case (_, t) =>
        val fp = Py.sliceTo(t, 15000)
        Parties.extractPlaintiff(fp, "english", "HCA")
        Parties.extractDefendant(fp, "english", "HCA")
      }
    }
    time("judge") {
      texts.foreach { case (_, t) => Judge.extract(Py.sliceTo(t, 15000), "english") }
    }
    time("case_type") {
      texts.foreach { case (_, t) => CaseType.extract(Py.sliceTo(t, 15000), "english", "HCA") }
    }
    time("lawyer_segment") {
      texts.foreach { case (_, t) => Lawyers.extractLawyerSegment(t, "english") }
    }
    time("judgment_result") {
      texts.foreach { case (_, t) => JudgmentResult.extract(t, "english") }
    }
    time("amounts") {
      texts.foreach { case (_, t) =>
        Amounts.extract(t, "english", "claim"); Amounts.extract(t, "english", "judgment")
      }
    }
    println(s"docs=$n totalChars=$totalChars")
  }
}
