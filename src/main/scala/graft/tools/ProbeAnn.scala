package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** ANN index-lifecycle demo (round-4 verdict #2): build the persisted IVF
  * index ONCE, then answer probes from the index alone. Prints one JSON
  * line with per-phase wall time and Spark job counts, plus the parquet
  * roots the probe plan actually scans — which must all live under the
  * index directory: the probe launches no job that touches the raw
  * embeddings table (that is the "zero training jobs" evidence, checked
  * here with a hard `require`).
  *
  * Usage: runMain graft.tools.ProbeAnn [sfDir] [indexDir]
  * (defaults: sf0.01 testdata, a fresh temp dir). */
object ProbeAnn {

  /** Every file scan in the plan, descending into AQE wrappers:
    * `AdaptiveSparkPlanExec` is a LEAF node whose inner plan is invisible
    * to `collect`/`collectLeaves`, so a naive scan-collector returns
    * nothing when AQE is on (the Spark 4 default). Also used by
    * AnnPlanSpec's partition-pruning assertions. */
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => fileScans(a.inputPlan)
    }.flatten

  /** Root paths of every file scan in the plan (pre-execution). */
  private def scanRoots(df: DataFrame): Seq[String] =
    fileScans(df.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString)).distinct

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val idx = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_ivf_demo").toString)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    // listener delivery is async — settle before reading the counter
    def settled(): Int = { Thread.sleep(500); jobs.get() }

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.count() // warm the session + parquet footer cache

    val j0 = settled()
    val t0 = System.nanoTime()
    graft.pipeline.AnnJobs.buildIndex(spark, emb, idx, nlist = 8)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val buildJobs = settled() - j0

    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).collect()
    val queryDf = spark.createDataFrame(
      spark.sparkContext.parallelize(queries.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))

    val j1 = settled()
    val t1 = System.nanoTime()
    val probe = graft.pipeline.AnnJobs.probeIndex(spark, idx, queryDf,
      k = 5, nprobe = 2)
    val rows = probe.count()
    val probeSec = (System.nanoTime() - t1) / 1e9
    val probeJobs = settled() - j1

    val roots = scanRoots(probe)
    require(roots.nonEmpty && roots.forall(_.contains(idx)),
      s"probe plan must scan ONLY the index, got: ${roots.mkString(", ")}")

    println(
      """{"metric":"ann_index_lifecycle","build_sec":%.3f,"build_jobs":%s,"probe_sec":%.3f,"probe_jobs":%s,"probe_rows":%s,"probe_scan_roots":%s,"index_dir":"%s"}"""
        .formatLocal(java.util.Locale.ROOT, buildSec, buildJobs, probeSec, probeJobs, rows,
          roots.map("\"" + _ + "\"").mkString("[", ",", "]"), idx))
    spark.stop()
  }
}
