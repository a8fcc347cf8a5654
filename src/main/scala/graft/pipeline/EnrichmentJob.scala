package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.CaseRecord

/** Stage-2 enrichment seam (SURVEY.md §3.3 / ST3).
  *
  * In the reference this stage POSTs batches of 3 records to a chat API
  * with a 2s inter-batch delay and a per-case fallback record on any
  * failure (`optimized_llm_processor.py:320-400`). Here it is a pluggable,
  * correctness-exempt boundary: the default [[RuleBasedEnricher]] is
  * deterministic (the reference itself falls back to rules — its amount
  * "LLM" path never calls the API, `src/extractor.py:2513-2515`); a remote
  * enricher would implement [[Enricher]] with an HTTP client initialized
  * per partition. Batching and pacing happen inside `mapPartitions`, so an
  * external API sees at most `partitions × rate` traffic. */
object EnrichmentJob {

  final case class Enriched(
      doc_id: String,
      case_type_classified: String,
      judgment_result_classified: String,
      lawyers: Seq[String],
      law_firms: Seq[String],
      enrich_status: String)

  trait Enricher extends Serializable {
    def enrichBatch(batch: Seq[CaseRecord]): Seq[Enriched]
    /** ms between batches (the reference uses 2000; 0 for local rules). */
    def interBatchDelayMs: Long = 0L
    def batchSize: Int = 3
  }

  /** Deterministic rule-based enrichment: the A3 bucket classification for
    * case type (`src/processor.py:213-221` semantics), decision-verb buckets
    * for judgment result, and the KG lawyer-segment parser. */
  object RuleBasedEnricher extends Enricher {
    def enrichBatch(batch: Seq[CaseRecord]): Seq[Enriched] = batch.map { r =>
      val ct = Option(r.case_type).getOrElse("").toLowerCase(java.util.Locale.ROOT)
      val caseType =
        if (ct.isEmpty) "Unknown"
        else if (ct.contains("application")) "Application"
        else if (ct.contains("action")) "Action"
        else "Other"
      val jr = Option(r.judgment_result).getOrElse("").toLowerCase(java.util.Locale.ROOT)
      val judgment =
        if (jr.isEmpty) "Unknown"
        else if (jr.contains("dismiss")) "Dismissed"
        else if (jr.contains("grant") || jr.contains("allow") ||
          jr.contains("entered for the plaintiff") || jr.contains("judgment be entered")) "Granted"
        else "Other"
      val (lawyers, firms) = KgJob.parseLawyerSegment(r.lawyer)
      Enriched(r.doc_id, caseType, judgment, lawyers, firms, "ok")
    }
  }

  /** Fallback record for a failed batch element
    * (`optimized_llm_processor.py:360-386` semantics: never job-fatal). */
  def fallback(r: CaseRecord, reason: String): Enriched =
    Enriched(r.doc_id, "Unknown", "Unknown", Seq.empty, Seq.empty, s"fallback: $reason")

  /** A6 — enrichment summary: distributions of classified case type /
    * judgment result and the ok/fallback rate
    * (`optimized_llm_processor.py:402-442` semantics). */
  def summary(enriched: Dataset[Enriched]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    enriched.toDF()
      .groupBy(col("case_type_classified"), col("judgment_result_classified"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("enrich_status") === "ok", 1).otherwise(0)).as("n_ok"))
      .orderBy(col("case_type_classified"), col("judgment_result_classified"))
  }

  def run(spark: SparkSession, records: Dataset[CaseRecord],
          enricher: Enricher = RuleBasedEnricher): Dataset[Enriched] = {
    import spark.implicits._
    records.mapPartitions { it =>
      it.grouped(enricher.batchSize).flatMap { batch =>
        if (enricher.interBatchDelayMs > 0) Thread.sleep(enricher.interBatchDelayMs)
        try enricher.enrichBatch(batch)
        catch { case e: Exception => batch.map(r => fallback(r, e.getClass.getSimpleName)) }
      }
    }
  }
}
