package graft.tools

import org.apache.spark.sql.SparkSession

import graft.pipeline.{CorpusGen, DocsSource, ExtractJob}

/** The north rule's two-cluster-size scaling criterion, evidenced in this
  * sandbox by running the identical extraction job at `local[N]` and
  * `local[4N]` on the same parquet corpus and reporting throughput at both
  * plus scaling efficiency `(throughput_4N / throughput_N) / 4`.
  *
  * Each parallelism level must run in its own JVM — two sequential
  * SparkSessions in one JVM share a GC-polluted heap and the measurements
  * become bimodal. Protocol (tools/run_scaling.sh automates it):
  *
  *   sbt "runMain graft.tools.ScalingBench gen 20000"   # stage corpus
  *   sbt "runMain graft.tools.ScalingBench run 8 20000"  # N
  *   sbt "runMain graft.tools.ScalingBench run 32 20000" # 4N
  *
  * `run` does 1 warmup + 3 timed reps and reports the best (standard
  * throughput practice — the min is the least-noise estimate). */
object ScalingBench {

  private def corpusPath(nDocs: Long) = s"/tmp/graft_scaling_corpus_$nDocs"

  def main(args: Array[String]): Unit = {
    args.headOption match {
      case Some("gen") =>
        val nDocs = if (args.length > 1) args(1).toLong else 20000L
        val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
          Runtime.getRuntime.availableProcessors.toString)
        val spark = SparkSession.builder().master(s"local[$cpus]")
          .config("spark.ui.enabled", "false").getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        CorpusGen.generate(spark, nDocs, 32)
          .write.mode("overwrite").parquet(corpusPath(nDocs))
        println(s"""{"staged":$nDocs,"path":"${corpusPath(nDocs)}"}""")
        spark.stop()

      case Some("run") =>
        val cores = args(1).toInt
        val nDocs = if (args.length > 2) args(2).toLong else 20000L
        val reps = if (args.length > 3) args(3).toInt else 3
        val spark = SparkSession.builder()
          .master(s"local[$cores]")
          .appName(s"graft-scaling-$cores")
          .config("spark.sql.shuffle.partitions", cores.toString)
          .config("spark.sql.adaptive.enabled", "true")
      // ~8MB corpus files must not bin-pack into 2-3 scan partitions: the
      // scan+shuffle-write stage would serialize (measured 4.5/32 cores busy)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "8m")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        val docs = DocsSource.parquet(spark, corpusPath(nDocs))
        val n = docs.count()
        graft.Bench.noop(ExtractJob.extractRecords(spark, docs, cores * 4).toDF()) // warmup
        val times = (1 to reps).map { _ =>
          // 4x partitions per core: finer granularity smooths the tail
          graft.Bench.timeIt(
            graft.Bench.noop(ExtractJob.extractRecords(spark, docs, cores * 4).toDF()))._2
        }
        val best = times.min
        println(
          """{"metric":"scaling_run","cores":%s,"docs":%s,"best_sec":%.2f,"times":[%s],"docs_per_sec":%.1f}"""
            .formatLocal(java.util.Locale.ROOT, cores, n, best,
              times.map(t => "%.2f".formatLocal(java.util.Locale.ROOT, t)).mkString(","), n / best))
        spark.stop()

      case _ =>
        System.err.println("usage: ScalingBench gen <nDocs> | run <cores> <nDocs> [reps]")
    }
  }
}
