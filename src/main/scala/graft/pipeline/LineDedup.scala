package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-corpus line-level deduplication — the CCNet-lineage pipeline
  * step (Wenzek et al. 2020) that strips boilerplate LINES (nav text,
  * cookie banners, copyright footers) by removing every line whose
  * normalized form appears in at least `minDocs` distinct documents.
  * Doc-level dedup ([[DedupJobs]]) removes repeated documents; this
  * removes the repeated fragments INSIDE surviving documents — both run
  * in real training-data pipelines.
  *
  * Semantics (stated so the DuckDB oracle can replay them exactly):
  *  - a document is its `\n`-split line list;
  *  - a line's dedup key is `md5(lower(trim(collapse_ws(line))))` — the
  *    CCNet normalization (case/whitespace-insensitive), hashed so the
  *    counting shuffle carries a fixed-width key instead of line text
  *    (CCNet itself dedups on paragraph hashes);
  *  - every line whose key occurs in ≥ `minDocs` DISTINCT docs is
  *    removed from ALL documents; survivors keep their original order.
  *
  * Shape at 100 TB:
  *  - the count aggregation shuffles only `(key, doc_id)` pairs with
  *    map-side partial aggregation — never line text;
  *  - the hot-key table (lines repeated across ≥ minDocs docs) is the
  *    boilerplate set — orders of magnitude smaller than the corpus —
  *    so the flagging join's build side broadcasts (AQE decides from
  *    runtime stats; no hint needed, and if a pathological corpus made
  *    it huge the plan degrades to a sound shuffle join instead of an
  *    OOM);
  *  - document text crosses exactly ONE shuffle: the per-doc
  *    reassembly groupBy — intrinsic to an operator whose output is
  *    rewritten documents. Keys are doc_ids (uniform), so no salting is
  *    needed.
  */
object LineDedup {

  /** Normalized dedup key for one line (column form) — md5 over the
    * one-pass ws_normalize kernel, ==
    * `md5(lower(trim(regexp_replace(line, "\\s+", " "))))` bit-for-bit
    * (TextHashSpec pins the normalization equivalence). */
  def lineKey(line: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(graft.plans.TextHashExprs.ws_normalize(line, doTrim = true, doLower = true))

  /** `docs` must carry (doc_id, text). Returns one row per doc:
    * (doc_id, n_kept, n_removed, text_clean) with survivors rejoined by
    * `\n` in original order. */
  def dedupLines(docs: DataFrame, minDocs: Int): DataFrame = {
    val lines = docs
      .select(col("doc_id"),
        posexplode(split(coalesce(col("text"), lit("")), "\n")).as(Seq("pos", "line")))
      .select(col("doc_id"), col("pos"), col("line"), lineKey(col("line")).as("key"))

    // boilerplate set: keys seen in >= minDocs distinct documents.
    // The aggregation input projects (key, doc_id) only.
    val hot = lines.select(col("key"), col("doc_id"))
      .groupBy(col("key"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("key"), lit(true).as("hot"))

    lines.join(hot, Seq("key"), "left")
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("hot").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("hot").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("hot").isNull, struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          "\n").as("text_clean"))
  }
}
