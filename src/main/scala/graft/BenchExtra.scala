package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Targeted benchmark with the SAME protocol as [[Bench]] (sf0.001 codegen
  * warm pass, one untimed warm rep at the target sf, min of 2 timed reps,
  * cache cleared between reps, noop sink) over an explicit query list —
  * for guide-§1 isolation during optimization without a full bench run.
  * Usage: `sbt "runMain graft.BenchExtra <sfDir> <query...>"`.
  * NOT part of the driver contract; [[Bench]] is the frozen harness. */
object BenchExtra {

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(100000).selectExpr("sum(id)").collect()

    // a query that throws ends the run with its exception and a non-zero
    // exit code: a missing number must never read as a timing
    def orExit[T](name: String)(body: => T): T =
      try body catch { case e: Throwable =>
        System.err.println(s"[bench-extra] $name failed")
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
      }

    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).exists() && warmDir != sfDir) {
      names.foreach { name =>
        orExit(name)(noop(SparkEntry.queries(name)(spark, warmDir)))
      }
    }
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val reps = orExit(name) {
        graft.pipeline.DedupJobs.releaseCached()
        spark.catalog.clearCache()
        noop(fn(spark, sfDir))
        (1 to 2).map { _ =>
          graft.pipeline.DedupJobs.releaseCached()
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          noop(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }.toSeq
      }
      name -> reps
    }
    results.foreach { case (n, reps) =>
      println("BENCHX %s min=%.3f reps=%s".formatLocal(java.util.Locale.ROOT, n, reps.min,
        reps.map(r => "%.3f".formatLocal(java.util.Locale.ROOT, r)).mkString(",")))
    }
    spark.stop()
  }
}
