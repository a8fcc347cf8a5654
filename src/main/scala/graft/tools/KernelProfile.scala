package graft.tools

import graft.extract._
import graft.pipeline.CorpusGen

/** Raw-thread control (no Spark): the full extraction kernel fanned over K
  * plain threads — measures the hardware's own scaling ceiling so the Spark
  * job's efficiency can be judged against it. Per-field kernel cost is
  * perfbench's `extract.*_ns_per_doc`.
  * `sbt "runMain graft.tools.KernelProfile [nDocs] [k1,k2,...]"` */
object KernelProfile {

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toInt else 20000
    val ks = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq else Seq(8, 32)
    val texts = (0L until nDocs).map { i =>
      val d = CorpusGen.genDoc(i)
      (d.doc_id, Cleaners.cleanPdfIndexArtifacts(ExtractAll.fullText(d)))
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
}
