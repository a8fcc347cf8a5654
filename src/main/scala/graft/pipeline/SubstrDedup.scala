package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact-substring deduplication — the ExactSubstr operator of Lee et
  * al., "Deduplicating Training Data Makes Language Models Better"
  * (ACL 2022): remove every span of text that also appears verbatim in
  * another document, because repeated passages (license boilerplate,
  * syndicated paragraphs, templated listings) are memorized
  * disproportionately by LMs. The paper builds a monolithic suffix
  * array; this engine implements the same contract distributed, as
  * stride-1 window hashing + candidate-bounded verification — the same
  * verify-after-bucket discipline as [[DedupJobs.minhashVerified]].
  *
  * Semantics (pinned so the DuckDB oracle replays them exactly):
  *  - a position `i` (1-based) of doc `d` is COVERED iff the
  *    `w`-char window starting at `i` occurs verbatim at any position
  *    of at least 2 DISTINCT documents (cross-document duplication;
  *    self-repeats within one doc do not count);
  *  - every char inside any covered window is removed; the output text
  *    is the concatenation of the surviving chars in original order —
  *    i.e. the complement of the union of the covered intervals
  *    `[i, i+w-1]`;
  *  - docs shorter than `w` have no windows and pass through verbatim.
  *
  * Shape at 100 TB (and why each stage is what it is):
  *  1. window hashing is map-only: per row, `len-w+1` transient
  *     `(pos:int, xxhash64:long)` pairs — the text itself never leaves
  *     the scan;
  *  2. the duplicate-hash count shuffles fixed-width `(hash, doc_id)`
  *     pairs — O(total chars) rows, the honest cost class of the
  *     suffix-array construction it replaces, with map-side partials;
  *  3. hash equality is NOT trusted: matched candidates (bounded by
  *     the true duplication rate, ~9 % of windows on the synthetic
  *     corpus) re-extract the actual window text and re-group on it,
  *     so a 64-bit collision can only ever ADD a candidate that the
  *     verify stage then discards — results are exact;
  *  4. interval removal is a per-row one-pass byte walk over the
  *     complement (`remove_intervals`) — codegen'd, no per-char
  *     explode, no UDF.
  */
object SubstrDedup {

  /** Stride-1 window table `(doc_id, pos, h)` — hashes only, via the
    * one-pass [[graft.plans.TextHashExprs.windowHashes]] kernel (the
    * composed `transform(sequence(...), i -> xxhash64(substr(t, i, w)))`
    * form computes the same pairs but O(len²): every `substr` re-scans
    * the UTF8String's variable-width bytes from position 0). */
  private def windows(docs: DataFrame, w: Int): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    docs.select(col("doc_id"),
        explode(graft.plans.TextHashExprs.window_hashes(t, lit(w))).as("win"))
      .select(col("doc_id"), col("win.pos").as("pos"), col("win.h").as("h"))
  }

  /** The values of `key` seen in at least 2 distinct docs of `rows` —
    * tested as min(doc_id) != max(doc_id), which is a SINGLE
    * partial-aggregating pass; count_distinct(doc_id) re-groups on
    * (key, doc_id) first, a second exchange-and-aggregate the >= 2
    * predicate never needed. */
  private def crossDoc(rows: DataFrame, key: String): DataFrame =
    rows.groupBy(key)
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1")).select(key)

  /** `(doc_id, n_cov, kept_md5, n_kept)` per document — the audit
    * projection of the dedup (callers wanting the rewritten corpus use
    * [[dedupText]]). */
  def audit(docs: DataFrame, w: Int = 50): DataFrame =
    dedupText(docs, w).select(col("doc_id"), col("n_cov"),
      md5(col("text_clean")).as("kept_md5"),
      length(col("text_clean")).cast("long").as("n_kept"))

  /** Full rewrite: `(doc_id, n_cov, text_clean)` for every input doc. */
  def dedupText(docs: DataFrame, w: Int = 50): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    // the window table feeds the duplicate-hash aggregate AND the
    // candidate probe join — persist it once (released via
    // Materialize.release) so the stride-1 hash pass over the corpus
    // runs once, not once per consumer. The persisted rows are the fixed
    // 12-byte (pos, h) pairs, the same O(total chars) volume the groupBy
    // shuffles anyway; at cluster scale this is the intermediate you'd
    // checkpoint (or recompute if storage is tighter than CPU).
    val wd = Materialize.cache(windows(docs, w))

    // duplicate-hash candidates: windows whose hash is seen in >= 2
    // distinct docs (output is duplicate-rate bounded and AQE broadcasts
    // it into the probe join)
    val hot = crossDoc(wd, "h")

    // verify on the actual text: candidate rows re-extract their window
    // and must STILL be cross-doc duplicated as strings. Positions are
    // gathered per doc first so the extraction is ONE indexed pass over
    // each text (windows_at) instead of an O(pos) substr scan per
    // candidate row; the extra exchange is (doc_id, pos) ints only.
    // Materialized once — it feeds both the group and the probe side.
    val candS = wd.join(hot, "h")
      .groupBy("doc_id").agg(collect_list(col("pos")).as("cps"))
      .join(docs.select(col("doc_id"), t.as("t")), "doc_id")
      .select(col("doc_id"), explode(graft.plans.TextHashExprs
        .windows_at(col("t"), col("cps"), lit(w))).as("win"))
      .select(col("doc_id"), col("win.pos").as("pos"), col("win.s").as("s"))
      .transform(Materialize.cut)
    val verified = crossDoc(candS, "s")
    val covered = candS.join(verified, "s").select(col("doc_id"), col("pos"))

    // per-doc sorted interval starts (small ints), then one equi-join
    // back to the corpus and a codegen'd gap walk over the complement
    val ivs = covered.groupBy("doc_id")
      .agg(sort_array(collect_set(col("pos"))).as("ps"))
    // complement-of-union gap walk: one indexed byte pass per doc
    // (remove_intervals); the aggregate/substr fold it replaces paid an
    // O(cursor) scan per interval — stride-1 covered regions yield
    // ~region-length interval starts, so that compounding mattered
    docs.join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(size(col("ps")), lit(0)).cast("long").as("n_cov"),
        when(col("ps").isNull, t)
          .otherwise(graft.plans.TextHashExprs
            .remove_intervals(t, col("ps"), lit(w))).as("text_clean"))
  }
}
