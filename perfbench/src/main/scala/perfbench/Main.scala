package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.pipeline.DedupJobs

/** The benchmark program: stages a seeded workload, warms it up, then runs its
  * operation in a closed loop (one client) for the requested time. Prints
  * a human-readable report and, as the last line, one JSON result.
  * Launched by `run.py`, which sizes the JVM to the host. */
object Main {
  val StagingReps = 3
  /** Stop starting new operations after this long, whatever `--seconds` asks. */
  val HardStopSeconds = 140.0

  final case class OpSample(index: Int, traced: Boolean, phases: Map[String, Double],
                            before: JvmSnapshot, after: JvmSnapshot, heapPeakMb: Double) {
    def seconds: Double = phases.values.sum
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private def elapsedS: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
  def say(s: String): Unit = println(f"[perfbench +$elapsedS%.1fs] $s")

  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("heap"), need("work"), need("trace-out"),
      m.get("tiny").contains("1"))
  }

  def session(cfg: Config): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${cfg.work}/hadoop")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    Jvm.watchHeap()
    val spark = session(cfg)
    spark.range(1000).selectExpr("sum(id)").collect()
    val startS = elapsedS
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    say(s"host cores=${cfg.cores} heap=${cfg.heap} master=local[${cfg.cores}] " +
      s"spark.local.dir=${cfg.work}/spark-local")

    val w = Workload(spark, cfg)
    var attempted = 0
    var failed = 0
    def hardStop = elapsedS > HardStopSeconds

    // --- set-up: stage the seeded input several times, then warm up ------
    val staged = (1 to StagingReps).map { r =>
      val dir = s"${cfg.work}/input-$r"
      val (_, secs) = Workload.timed(w.stage(dir))
      (dir, secs, w.fingerprint(dir))
    }
    val fp = staged.head._3
    if (staged.exists(_._3 != fp))
      throw new CheckFailed(s"same seed staged different inputs: ${staged.map(_._3.describe)}")
    val dir = staged.last._1
    staged.init.foreach(s => deleteTree(new java.io.File(s._1)))
    val (_, prepareS) = Workload.timed(w.prepare(dir))
    say(s"workload=${cfg.workload} seed=${cfg.seed} input ${fp.describe}")

    val untraced = new Tracer(spark, enabled = false)
    val warm = runOps(spark, w, _ => untraced, 0, w.warmupOps, 0.0)
    attempted += warm.size
    failed += warm.count(_.isLeft)
    val setupS = startS + Stats.median(staged.map(_._2)) + prepareS +
      warm.collect { case Right(o) => o.seconds; case Left(_) => 0.0 }.sum
    w.describe().foreach(say)
    say(f"setup: start=$startS%.3fs staging=${staged.map(_._2).map(x => f"$x%.3f").mkString("/")}s " +
      f"prepare=$prepareS%.3fs warmup=${warm.collect { case Right(o) => f"${o.seconds}%.3f" }.mkString("/")}s")

    // --- measurement ------------------------------------------------------
    // The traced run alternates untraced and traced operations (at least two
    // of each), so both halves see the same JIT and host phase and the gap
    // between their medians is the tracing overhead.
    val tracer = new Tracer(spark, enabled = true)
    val timedOps =
      if (!cfg.trace) runOps(spark, w, _ => untraced, w.warmupOps, 1, cfg.seconds, hardStop)
      else runOps(spark, w, i => if ((i - w.warmupOps) % 2 == 1) tracer else untraced,
        w.warmupOps, 4, cfg.seconds, hardStop)
    attempted += timedOps.size
    failed += timedOps.count(_.isLeft)
    val ok = timedOps.collect { case Right(o) if !o.traced => o }
    if (ok.isEmpty) {
      say("no operation succeeded; no result")
      sys.exit(1)
    }
    val opS = Stats.median(ok.map(_.seconds))
    val heapMb = Stats.median(ok.map(_.heapPeakMb))

    val metrics: Seq[(String, Double, String)] = if (!cfg.trace) {
      say(f"ops=${ok.size} op_s median=$opS%.4f " +
        s"all=${ok.map(o => f"${o.seconds}%.3f").mkString(",")}")
      w.named(ok.map(_.phases)).foreach { case (n, v, u) => say(f"$n = $v%.4f $u") }
      say(f"setup_s = $setupS%.4f s")
      say(f"heap_peak_mb = $heapMb%.1f MB (post-GC peak per operation, median)")
      Seq(("setup_s", setupS, "s"), ("op_s", opS, "s"))
    } else {
      val tok = timedOps.collect { case Right(o) if o.traced => o }
      if (tok.isEmpty) {
        say("no traced operation succeeded; no result")
        sys.exit(1)
      }
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val layers = new Layers(cfg, w, tracer, listener, tok, opS)
      layers.report().foreach(say)
      layers.write()
      layers.metrics
    }

    say(f"error_rate = ${failed.toDouble / attempted}%.4f failed/attempted ($failed/$attempted)")
    val correct = failed == 0
    val result = Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))
    spark.stop()
    println(Json(result))
  }

  /** Closed loop, one client: each operation starts when the previous one
    * has finished. Runs at least `minOps`, then until `seconds` have
    * passed. Before each operation (untimed): cached intermediates are
    * released, the workload cleans up and the heap is collected, so each
    * operation's post-GC heap peak starts from the retained heap. */
  def runOps(spark: SparkSession, w: Workload, tracerFor: Int => Tracer, first: Int,
             minOps: Int, seconds: Double,
             stop: => Boolean = false): Seq[Either[Throwable, OpSample]] = {
    val out = mutable.ArrayBuffer.empty[Either[Throwable, OpSample]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = first
    while (out.size < minOps || (System.nanoTime() < deadline && !stop)) {
      DedupJobs.releaseCached()
      spark.catalog.clearCache()
      w.beforeOp()
      System.gc()
      Jvm.resetHeapPeak()
      val before = Jvm.snapshot()
      val t = tracerFor(i)
      val r = try {
        val phases = t.operation(i)(w.op(i, t)).toMap
        val after = Jvm.snapshot()
        say(f"operation $i: ${phases.values.sum}%.3f s " +
          phases.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ") +
          f" cpu=${(after.cpuNs - before.cpuNs) / 1e9}%.3f s gc=${after.gcMs - before.gcMs} ms")
        Right(OpSample(i, t.enabled, phases, before, after, Jvm.heapPeakMb))
      } catch {
        case e: Exception =>
          say(s"operation $i FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          Left(e)
      }
      out += r
      i += 1
    }
    out.toSeq
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
