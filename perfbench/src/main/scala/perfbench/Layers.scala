package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import perfbench.Main.OpSample

/** The traced run's layer view: per-call spans joined with the Spark task
  * metrics of the jobs each call ran, JVM counters per operation, the
  * single-thread kernel costs outside Spark and the workload's own counts. */
final class Layers(cfg: Config, w: Workload, tracer: Tracer, listener: TaskMetricsListener,
                   ops: Seq[OpSample], untracedOpS: Double) {
  private val MB = 1048576.0
  private val spans = tracer.spans
  private val opIds = ops.map(_.index).toSet

  private def med(xs: Seq[Double]): Double = Stats.median(xs)
  private def stageMetrics(ids: Seq[Int]): Seq[StageMetrics] =
    ids.flatMap(i => Option(listener.byGroup.get(tracer.group(i))))

  private val roots = spans.indices.filter(i => spans(i).parent == -1 && opIds(spans(i).op))
  private val callNames = spans.iterator.filter(s => s.parent != -1 && opIds(s.op))
    .map(_.name).distinct.toSeq

  /** Per call: (quantity, unit) -> median over operations. */
  val calls: Seq[(String, Seq[(String, Double, String)])] = callNames.map { n =>
    val perOp = ops.map { o =>
      val ids = spans.indices.filter(i => spans(i).op == o.index && spans(i).name == n)
      val ms = stageMetrics(ids)
      Seq(ids.map(spans(_).seconds).sum, ids.map(tracer.selfSeconds).sum,
        ms.map(_.cpuNs).sum / 1e9, ms.map(_.gcMs).sum / 1e3,
        ms.map(_.shuffleWriteBytes).sum / MB, ms.map(_.spillBytes).sum / MB,
        (ms.map(_.skew) :+ 1.0).max)
    }
    n -> Seq("wall_s" -> "s", "self_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s",
      "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "task_skew" -> "max/median")
      .zipWithIndex.map { case ((q, u), k) => (q, med(perOp.map(_(k))), u) }
  }

  private val tracedOpS = med(roots.map(spans(_).seconds))
  private val uncoveredS = med(roots.map(tracer.selfSeconds))

  private val opStage: Seq[Seq[StageMetrics]] = ops.map(o =>
    stageMetrics(spans.indices.filter(spans(_).op == o.index)))
  private def perOpMed(f: Seq[StageMetrics] => Double): Double = med(opStage.map(f))

  private val kernels = new Kernels(w.sample, reps = 3)
  private val extractNs = kernels.extractNsPerDoc()
  private val plansNs = kernels.plansNsPerRow()
  private val kgNs = kernels.kgNsPerRecord(w.sampleRecords)
  private val counts = w.counts()

  /** The declared per-layer metrics: measured on every workload. */
  val metrics: Seq[(String, Double, String)] =
    extractNs.toSeq.sortBy(_._1).map { case (f, v) => (s"extract.${f}_ns_per_doc", v, "ns/doc") } ++
      Seq(("extract.kernel_errors", kernels.kernelErrors.toDouble, "count")) ++
      plansNs.toSeq.sortBy(_._1).map { case (k, v) => (s"plans.${k}_ns_per_row", v, "ns/row") } ++
      kgNs.toSeq.sortBy(_._1).map { case (k, v) => (s"kg.${k}_ns_per_record", v, "ns/record") } ++
      Seq(
        ("jvm.gc_s", med(ops.map(o => (o.after.gcMs - o.before.gcMs) / 1e3)), "s"),
        ("jvm.gc_count", med(ops.map(o => (o.after.gcCount - o.before.gcCount).toDouble)), "count"),
        ("jvm.cpu_util", med(ops.map(o => (o.after.cpuNs - o.before.cpuNs).toDouble /
          ((o.after.wallNs - o.before.wallNs) * cfg.cores))), "ratio"),
        ("jvm.heap_peak_mb", med(ops.map(_.heapPeakMb)), "MB"),
        ("spark.task_cpu_s", perOpMed(_.map(_.cpuNs).sum / 1e9), "s"),
        ("spark.task_gc_s", perOpMed(_.map(_.gcMs).sum / 1e3), "s"),
        ("spark.shuffle_write_mb", perOpMed(_.map(_.shuffleWriteBytes).sum / MB), "MB"),
        ("spark.spill_mb", perOpMed(_.map(_.spillBytes).sum / MB), "MB"),
        ("spark.task_skew", perOpMed(ms => (ms.map(_.skew) :+ 1.0).max), "max/median"),
        ("spark.tasks", perOpMed(_.map(_.tasks).sum.toDouble), "count"),
        ("trace.overhead_pct", (tracedOpS / untracedOpS - 1) * 100, "%"),
        ("trace.uncovered_s", uncoveredS, "s"))

  def report(): Seq[String] = {
    val lines = mutable.ArrayBuffer.empty[String]
    lines += f"traced ops=${ops.size} traced op_s=$tracedOpS%.4f untraced op_s=$untracedOpS%.4f " +
      f"overhead=${(tracedOpS / untracedOpS - 1) * 100}%.2f%% uncovered_s=$uncoveredS%.4f " +
      f"(${uncoveredS / tracedOpS * 100}%.2f%% of the op)"
    calls.foreach { case (n, qs) =>
      qs.foreach { case (q, v, u) => lines += f"pipeline.$n.$q = $v%.4f $u" }
    }
    counts.foreach { case (n, v, u) => lines += f"$n = $v%.4f $u" }
    metrics.foreach { case (n, v, u) => lines += f"$n = $v%.4f $u" }
    lines.toSeq
  }

  /** Spans, the per-call table with self times and the overhead, as JSON. */
  def write(): Unit = {
    val doc = mutable.LinkedHashMap[String, Any](
      "workload" -> cfg.workload, "seed" -> cfg.seed, "cores" -> cfg.cores, "heap" -> cfg.heap,
      "input_docs" -> w.nDocs,
      "tracing" -> Map("untraced_op_s" -> untracedOpS, "traced_op_s" -> tracedOpS,
        "overhead_pct" -> (tracedOpS / untracedOpS - 1) * 100, "uncovered_s" -> uncoveredS),
      "calls" -> mutable.LinkedHashMap(calls.map { case (n, qs) =>
        n -> mutable.LinkedHashMap(qs.map { case (q, v, _) => q -> v }: _*) }: _*),
      "counts" -> mutable.LinkedHashMap(counts.map { case (n, v, _) => n -> v }: _*),
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, _) => n -> v }: _*),
      "spans" -> spans.indices.filter(i => opIds(spans(i).op)).map { i =>
        val s = spans(i)
        val t0 = spans(roots.head).startNs
        mutable.LinkedHashMap("id" -> i, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
          "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
          "self_s" -> tracer.selfSeconds(i))
      })
    val path = Paths.get(cfg.traceOut)
    Option(path.getParent).foreach(Files.createDirectories(_))
    Files.write(path, (Json(doc) + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
