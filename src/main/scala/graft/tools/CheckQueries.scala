package graft.tools
import org.apache.spark.sql.SparkSession

/** Ad-hoc: dump a subset of SparkEntry.queries to parquet for local
  * DuckDB comparison while iterating (the driver does the real compare). */
object CheckQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      graft.SparkEntry.queries(n)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
      println(s"dumped $n")
    }
    spark.stop()
  }
}
