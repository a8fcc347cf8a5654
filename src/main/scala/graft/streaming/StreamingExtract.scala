package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Doc
import graft.pipeline.{DocsSource, ExtractJob}

/** Streaming ingestion mode (SURVEY.md §2.9 stretch): `readStream` on the
  * docs span table → the same extraction kernel inside `foreachBatch` →
  * idempotent append keyed by doc_id.
  *
  * The reference is strictly batch; this mode exists so a continuously
  * landing corpus (new documents appended to the lake) is extracted
  * incrementally without reprocessing — the streaming checkpoint plays the
  * role the lineage table plays for batch resume. No event-time windows or
  * watermarks are needed: documents are immutable facts, not events. */
object StreamingExtract {

  /** Start the incremental extraction query. `docsPath` is watched for new
    * parquet files; each micro-batch runs the kernel and appends records. */
  def start(spark: SparkSession, docsPath: String, outPath: String,
            checkpointPath: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import spark.implicits._

    val stream = spark.readStream
      .schema(DocsSource.docSchema)
      .parquet(docsPath)

    stream.writeStream
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val records = batch.as[Doc].mapPartitions(ExtractJob.extractPartition)
        // Append is idempotent across restarts at the batch level: the
        // streaming checkpoint ensures a source file is processed exactly
        // once, and doc_id keys make downstream dedupe trivial.
        records.write.mode("append").parquet(outPath)
        ()
      }
      .start()
  }
}
