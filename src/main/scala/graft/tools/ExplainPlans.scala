package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan inspection: prints formatted plans for the queries whose physical
  * shape matters at scale — verifies predicate pushdown (PushedFilters),
  * column pruning (ReadSchema), broadcast joins, and whole-stage codegen
  * spans. `sbt "runMain graft.tools.ExplainPlans [sfDir] [names...]"`. */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_pricing_summary", "q_customers_no_orders", "q_similar_docs",
        "q_ann_cosine", "q_top_orders_per_cust", "q_extract_records")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (n <- names) {
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
