package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gopher-style document quality filtering (Rae et al., "Scaling Language
  * Models: Methods, Analysis & Insights from Training Gopher", 2021,
  * Appendix A1.1 — the public rule set most 100 TB text pipelines start
  * from). Every signal is a native column expression: per-row arithmetic
  * over the normalized text, no UDF, no shuffle — the filter is free at
  * scan time and Catalyst can push the `passes` predicate into a fuller
  * pipeline.
  *
  * Signals (canonical Gopher bounds in parentheses):
  *   - word_count          (50 .. 100_000)
  *   - mean_word_len       (3 .. 10)
  *   - symbol_word_ratio   ('#' or '…'/'...' per word, <= 0.1)
  *   - alpha_word_ratio    (words containing a letter, >= 0.8)
  *   - n_stopwords         (distinct hits from a tiny list, >= 2)
  *
  * The line-based bullet/ellipsis rules are included for completeness but
  * degenerate on single-line documents (ratio 0) — stated here rather than
  * silently skipped. */
object QualityFilters {

  val stopwords: Seq[String] = Seq("the", "and", "of", "to", "a", "in", "is", "that")

  /** Adds the signal columns + `passes` to a documents frame.
    *
    * All five signals come from ONE compiled byte pass per row
    * ([[graft.plans.QualityExprs.gopherSignals]]) — the composed form ran six
    * passes per row (the `\s+` normalization regex + its string copy, a
    * `split` token-array build, three `replace` occurrence scans, a
    * `regexp_count`, and a `regexp_extract_all` + distinct). Arithmetic
    * is replicated exactly (same int subtractions, same exact-in-double
    * divisions — see the kernel's scaladoc); QualityFiltersSpec pins a
    * full differential against the composed form on trap inputs and the
    * DuckDB oracle replays the identical arithmetic independently. */
  def gopherSignals(documents: DataFrame): DataFrame = {
    graft.plans.QualityExprs.register(documents.sparkSession)
    val g = graft.plans.QualityExprs.gopher_signals(
      coalesce(col("text"), lit("")))
    documents
      .withColumn("_gopher", g)
      .withColumn("word_count", col("_gopher.word_count"))
      .withColumn("mean_word_len", round(col("_gopher.mean_raw"), 4))
      .withColumn("symbol_word_ratio", round(col("_gopher.symbol_raw"), 4))
      .withColumn("alpha_word_ratio", round(col("_gopher.alpha_raw"), 4))
      .withColumn("n_stopwords", col("_gopher.n_stopwords"))
      .withColumn("passes",
        col("_gopher.word_count") >= 50 && col("_gopher.word_count") <= 100000 &&
          col("_gopher.mean_raw") >= 3.0 && col("_gopher.mean_raw") <= 10.0 &&
          col("_gopher.symbol_raw") <= 0.1 &&
          col("_gopher.alpha_raw") >= 0.8 &&
          col("_gopher.n_stopwords") >= 2)
      .drop("_gopher")
  }

  /** Gopher repetition signals (A1.1's duplicate-line and most-frequent
    * n-gram rules), one row per document:
    *
    *   - dup_line_frac: fraction of lines that repeat an earlier line
    *     (split on '\n'; blank lines ignored);
    *   - top_2gram / top_2gram_count / top_2gram_frac: the most frequent
    *     word 2-gram (tie-break: lexicographically smallest, so the result
    *     is deterministic in any engine), its occurrence count, and the
    *     fraction of the normalized text's characters its occurrences
    *     cover (count × gram length / total chars);
    *   - passes_repetition: top_2gram_frac <= 0.20 (the published 2-gram
    *     bound) AND dup_line_frac <= 0.30.
    *
    * 2-grams are built in-row and exploded once; the count is a
    * (doc_id, gram) groupBy — shuffles by doc key only, the same scale
    * shape as the layout furniture removal. */
  def repetitionSignals(documents: DataFrame): DataFrame = {
    graft.plans.TextHashExprs.register(documents.sparkSession)
    // one-pass kernel form of trim(regexp_replace(.., "\\s+", " "))
    val nt = graft.plans.TextHashExprs
      .ws_normalize(coalesce(col("text"), lit("")), doTrim = true, doLower = false)
    val lines = filter(
      transform(split(coalesce(col("text"), lit("")), "\n"), l => trim(l)),
      l => l =!= "")
    val base = documents.select(
      col("doc_id").cast("long").as("doc_id"), nt.as("nt"), lines.as("lines"))

    // the top 2-gram is computed IN-ROW by the compiled top_2gram kernel
    // (one hash-map pass per doc, count-desc/gram-asc tie-break identical
    // to the former explode → groupBy(doc_id, gram) → window rank, which
    // shuffled one row per 2-gram occurrence through two exchanges plus a
    // join back). The whole operator is now map-only.
    val dupLine = base.select(
      col("doc_id"), col("nt"),
      when(size(col("lines")) === 0, lit(0.0))
        .otherwise((size(col("lines")) - size(array_distinct(col("lines"))))
          .cast("double") / size(col("lines"))).as("dup_line_frac"),
      graft.plans.TextHashExprs.top_2gram(col("nt")).as("tg"))

    dupLine
      .withColumn("top_2gram", col("tg.gram"))
      .withColumn("top_2gram_count", col("tg.cnt"))
      .select(
        col("doc_id"),
        round(col("dup_line_frac"), 4).as("dup_line_frac"),
        coalesce(col("top_2gram"), lit("")).as("top_2gram"),
        coalesce(col("top_2gram_count"), lit(0L)).as("top_2gram_count"),
        round(
          when(length(col("nt")) === 0, lit(0.0)).otherwise(
            coalesce(col("top_2gram_count") * length(col("top_2gram")), lit(0))
              .cast("double") / length(col("nt"))), 4).as("top_2gram_frac"),
        (coalesce(
          when(length(col("nt")) === 0, lit(0.0)).otherwise(
            coalesce(col("top_2gram_count") * length(col("top_2gram")), lit(0))
              .cast("double") / length(col("nt"))), lit(0.0)) <= 0.20
          && col("dup_line_frac") <= 0.30).as("passes_repetition"))
  }
}
