package graft.tools
import org.apache.spark.sql.SparkSession

/** Ad-hoc single-query timer at a given sf dir (noop sink, one warm rep). */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "8m")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(100000).selectExpr("sum(id)").collect()
    names.foreach { n =>
      // bench-protocol parity: cold cache per rep
      graft.pipeline.DedupJobs.releaseCached()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"TIMEQ $n ${(System.nanoTime()-t0)/1e9}%.3f s")
    }
    spark.stop()
  }
}
