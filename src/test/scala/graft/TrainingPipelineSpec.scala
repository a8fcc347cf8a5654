package graft

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{ChunkJobs, Decontaminate, DedupJobs, QualityFilters}
import graft.plans.TextHashExprs

/** Both training pipelines report their stage counts through observations
  * on their own checkpoints. The summary must equal the crossJoin of 1-row
  * aggregates it replaced — schema (incl. the nullable `n_dedup` sum),
  * values, and the null `n_dedup` of an empty input — and every
  * observation must be fulfilled (a `get` left blocking would hang the
  * query, so each run is bounded by a timeout). */
class TrainingPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-training-pipeline-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  /** The former summary: every stage's count as its own aggregate over the
    * stage's checkpoint, crossJoined into one row. */
  private def crossJoinSummary(dir: String, nearDup: Boolean): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    TextHashExprs.register(spark)
    val dedAll = QualityFilters.gopherSignals(docs).filter(col("passes"))
      .withColumn("nthash", TextHashExprs.norm_md5(coalesce(col("text"), lit(""))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("nthash")).orderBy(col("doc_id"))))
      .select(col("doc_id"), col("text"), col("rn"))
      .localCheckpoint()
    val ded = dedAll.filter(col("rn") === 1)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val kept = if (!nearDup) ded else {
      val pairs = DedupJobs.minhashVerifiedPairs(ded, numHashes = 8, bands = 4,
        bucketCap = 200, jaccardThreshold = 0.9)
      val dropIds = DedupJobs.connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
        .filter(col("is_canonical") === 0)
        .select(col("doc_id").cast("long").as("doc_id"))
      ded.join(dropIds, Seq("doc_id"), "left_anti").localCheckpoint()
    }
    val contam = Decontaminate.contaminated(kept, k = 4, testMod = 97L, maxDf = 50L)
      .select(col("doc_id"))
    val train = kept.filter(col("doc_id") % 97 =!= 0)
      .join(contam, Seq("doc_id"), "left_anti").localCheckpoint()
    val chunkMeta = ChunkJobs.chunk(train, 32, 8)
      .select(col("doc_id"), col("chunk_id"), col("n_tokens")).localCheckpoint()
    val packs = ChunkJobs.packMeta(spark, chunkMeta, 100)
    val head = docs.agg(count(lit(1)).as("n_input"))
      .crossJoin(dedAll.agg(
        count(lit(1)).as("n_quality"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_dedup")))
    (if (nearDup) head.crossJoin(kept.agg(count(lit(1)).as("n_neardup"))) else head)
      .crossJoin(train.agg(count(lit(1)).as("n_train")))
      .crossJoin(chunkMeta.agg(count(lit(1)).as("n_chunks")))
      .crossJoin(packs.toDF().agg(count(lit(1)).as("n_packs")))
  }

  private def observed(name: String, dir: String): DataFrame =
    Await.result(Future(SparkEntry.queries(name)(spark, dir)), 5.minutes)

  private def stage(name: String)(f: DataFrame => DataFrame): String = {
    val dir = Files.createTempDirectory(s"training-$name").toString
    f(spark.read.parquet(s"$sf/documents.parquet"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private lazy val emptyDir = stage("empty")(_.limit(0))
  // five words per doc: every doc fails the Gopher word-count bound
  private lazy val failingDir =
    stage("failing")(_.withColumn("text", substring_index(col("text"), " ", 5)))

  for ((name, nearDup) <- Seq(("q_training_pipeline", false),
                              ("q_training_pipeline_neardup", true))) {
    test(s"$name: observed summary == crossJoin summary on sf0.001") {
      val got = observed(name, sf)
      val want = crossJoinSummary(sf, nearDup)
      assert(got.schema == want.schema)
      val row = got.collect().toSeq
      assert(row == want.collect().toSeq)
      assert(row.head.getLong(0) == 500L && row.head.getLong(1) > 0L)
    }

    test(s"$name: empty documents table reports zeros and a null n_dedup") {
      val got = observed(name, emptyDir)
      val want = crossJoinSummary(emptyDir, nearDup)
      assert(got.schema == want.schema)
      val row = got.collect().toSeq
      assert(row == want.collect().toSeq)
      assert(row.head.isNullAt(row.head.fieldIndex("n_dedup")))
      assert(row.head.getLong(0) == 0L)
    }

    test(s"$name: every doc failing the Gopher gate empties every later stage") {
      val got = observed(name, failingDir)
      val want = crossJoinSummary(failingDir, nearDup)
      assert(got.schema == want.schema)
      val row = got.collect().toSeq
      assert(row == want.collect().toSeq)
      assert(row.head.getLong(0) == 500L)
      assert(row.head.getAs[Long]("n_quality") == 0L)
      assert(row.head.isNullAt(row.head.fieldIndex("n_dedup")))
    }
  }
}
