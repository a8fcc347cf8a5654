package graft.tools

import graft.pipeline._

/** End-to-end pipeline drive: synthetic corpus → skew-aware resumable
  * extraction (with lineage) → report + KG. Re-running with the same outDir
  * and runId must process zero buckets (everything resumed).
  *
  * `sbt "runMain graft.tools.PipelineMain <nDocs> <outDir> [runId]"`;
  * `SPARK_GRAFT_CPUS` sets `local[N]` (default: the available processors). */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 500L
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_pipeline"
    val runId = if (args.length > 2) args(2) else "run1"

    val spark = Queries.session()

    val t0 = System.nanoTime()
    val docs = CorpusGen.generate(spark, nDocs, 8)
    val lineage = ExtractJob.runResumable(spark, docs, outDir, runId,
      numBuckets = 16, bucketsPerWave = 8)
    val dt = (System.nanoTime() - t0) / 1e9

    val records = spark.read.parquet(s"$outDir/records")
    val nRec = records.count()
    val totalDocs = lineage.map(_.docs).sum
    val totalSpans = lineage.map(_.spans).sum
    println(("processed_buckets=%s docs=%s spans=%s records=%s elapsed=%.1fs " +
      "docs_per_sec=%.1f").formatLocal(java.util.Locale.ROOT, lineage.size, totalDocs, totalSpans, nRec, dt,
      totalDocs / math.max(dt, 0.001)))

    ReportJob.writeReport(spark, records, s"$outDir/report")
    val nodes = KgJob.nodes(records)
    val edges = KgJob.edges(records)
    // the KG becomes two relations, queryable in Spark itself (S9 mapping)
    nodes.write.mode("overwrite").parquet(s"$outDir/kg/nodes")
    edges.write.mode("overwrite").parquet(s"$outDir/kg/edges")
    println(s"kg_nodes=${nodes.count()} kg_edges=${edges.count()}")
    KgJob.nodeStatistics(nodes).show()
    spark.stop()
  }
}
