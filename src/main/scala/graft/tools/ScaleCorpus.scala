package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage an m× documents table for heavy-family scale evidence
  * (BASELINE.md): m shifted copies of the sf0.1 `documents` table, each
  * copy's text perturbed with a copy-specific token so the near-duplicate
  * STRUCTURE scales linearly (pure copies would make every doc an m-way
  * duplicate — a quadratically harder dedup instance, not a bigger one).
  * Output dir holds `documents.parquet` only; use with
  * `graft.BenchExtra <outDir> <heavy queries...>`.
  *
  * Usage: `sbt "runMain graft.tools.ScaleCorpus <srcSfDir> <outDir> [m]"`. */
object ScaleCorpus {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val m = if (args.length > 2) args(2).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val copies = (0 until m).map { c =>
      docs.select(
        (col("doc_id") + lit(c * 10000000L)).as("doc_id"),
        (if (c == 0) col("text")
         else concat(col("text"), lit(s" copymark$c"))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    copies.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"""{"staged_docs":${docs.count() * m},"out":"$out","m":$m}""")
    spark.stop()
  }
}
