package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Language-model perplexity bucketing — the CCNet quality stage
  * (Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets
  * from Web Crawl Data", LREC 2020): score every document against a
  * per-language LM and split each language's corpus into head / middle /
  * tail perplexity terciles; downstream training mixes sample by bucket.
  * CCNet uses a KenLM 5-gram word model; this engine implements the
  * same pipeline shape with a from-scratch character-trigram add-1/2
  * (Jeffreys) model — no external model artifact, deterministic, and
  * every step expressible as relational algebra, so the whole stage is
  * replayable in SQL and rides whole-stage codegen end to end.
  *
  * Reference behavior surface: the reference has no statistical quality
  * stage (its corpus is curated court documents); this belongs to the
  * web-scale training-data tier the brief adds alongside the Gopher
  * rules in [[QualityFilters]].
  *
  * Semantics (pinned so the DuckDB oracle replays them exactly):
  *  - normalize: `lower(trim(regexp_replace(text, '\s+', ' ')))`;
  *  - trigrams: all `len-2` overlapping char 3-grams of the normalized
  *    text (docs shorter than 3 chars have none and drop out);
  *  - model: per (lang, tri), `p = (2c+1) / (2N+V)` where `c` is the
  *    trigram count over the language's corpus, `N` the language's total
  *    trigram tokens, `V` its distinct-trigram count — add-1/2 smoothing,
  *    so observed probabilities sum to exactly 1; unseen trigrams floor
  *    at `1 / (2N+V)` (the c = 0 form);
  *  - score: `sum_logp_e9 = Σ round(log10(p) · 1e9)` over the doc's
  *    trigrams — an INTEGER per model row, so the per-doc sum is exact
  *    and engine/oracle cannot drift by float summation order;
  *  - bucket: ntile(3) per language ordered by mean log-prob descending
  *    (highest likelihood = lowest perplexity = `head`), doc_id as the
  *    total-order tiebreak.
  *
  * Shape at 100 TB: the char-trigram space is bounded by alphabet³
  * (tens of thousands of rows per language, independent of corpus
  * size), so the trained model BROADCASTS — scoring is explode →
  * broadcast-hash join → partial aggregate, one shuffle of ~1 row per
  * doc (the map-side partials collapse the trigram rows), never a
  * trigram-keyed wide exchange. Training is one groupBy over the
  * trigram projection (fixed-width keys, 3 chars), the same shape as
  * [[Decontaminate]]'s shingle counting. The tercile window is per
  * language over doc-level rows — orders of magnitude below corpus
  * size; a quantile-sketch cut would replace it at extreme scale
  * without changing the contract. */
object LmQuality {

  /** The documented normalization (the oracle replays
    * `lower(trim(regexp_replace(c, '\\s+', ' ')))` verbatim; this is the
    * one-pass [[graft.plans.TextHashExprs.wsNormalize]] kernel form of
    * the same function — trim and lower commute since no codepoint
    * lowercases to or from a space, pinned by TextHashSpec). Callers
    * register TextHashExprs before their first action (both entry
    * points in this file do). */
  def normalized(c: Column): Column =
    graft.plans.TextHashExprs.ws_normalize(c, doTrim = true, doLower = true)

  /** All overlapping character trigrams of a normalized string — the
    * native one-pass kernel ([[graft.plans.TextHashExprs.charNgrams]]).
    * The composed-builtin form (`transform(sequence(...), i ->
    * substr(nt, i, 3))`) computes the same array but is O(len²): each
    * `substr` re-scans the UTF8String's variable-width bytes from the
    * start, which made trigram generation dominate the whole stage
    * (measured 31 s → 3 s at sf0.1). Semantics are identical —
    * codepoint-counted n-grams, empty array below 3 chars. Registers
    * the kernel on the active/default session first, so callers (and
    * tests) can use this column factory without a prior `register()`. */
  def trigramList(nt: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach(graft.plans.TextHashExprs.register)
    graft.plans.TextHashExprs.char_ngrams(nt, lit(3))
  }

  /** Per-language trigram LM over `docs(doc_id, text, lang)`:
    * `(lang, tri, logp_e9)` plus the per-language unseen floor
    * `(lang, logp0_e9)`. Both are small (alphabet³-bounded) and meant
    * to be broadcast by [[scoreAndBucket]]. */
  def trainTrigramModel(docs: DataFrame): (DataFrame, DataFrame) = {
    graft.plans.TextHashExprs.register(docs.sparkSession)
    val tris = docs
      .select(col("lang"), explode(trigramList(normalized(col("text")))).as("tri"))
    // counts is alphabet³-bounded (tens of thousands of rows per
    // language, corpus-size-independent); checkpoint it so the corpus
    // explode+aggregate runs ONCE — model, floors, and any downstream
    // broadcast all re-read the small materialization, not the lineage
    val counts = tris.groupBy("lang", "tri").agg(count(lit(1)).as("c"))
      .transform(Materialize.cut)
    val totals = counts.groupBy("lang")
      .agg(sum("c").as("n_lang"), count(lit(1)).as("v_lang"))
    val denom = (col("n_lang") * 2 + col("v_lang")).cast("double")
    val model = counts.join(totals, "lang")
      .select(col("lang"), col("tri"),
        round(log10((col("c") * 2 + 1).cast("double") / denom) * 1e9)
          .cast("long").as("logp_e9"))
    val floors = totals
      .select(col("lang"),
        round(log10(lit(1.0) / denom) * 1e9).cast("long").as("logp0_e9"))
    (model, floors)
  }

  /** Score every doc against the model and bucket per language:
    * `(doc_id, lang, n_tri, sum_logp_e9, bucket)` with bucket ∈
    * head | middle | tail. Docs with no trigrams drop out (nothing to
    * score — the documented contract). */
  def scoreAndBucket(docs: DataFrame, model: DataFrame,
                     floors: DataFrame): DataFrame = {
    graft.plans.TextHashExprs.register(docs.sparkSession)
    val docTris = docs
      .select(col("doc_id"), col("lang"),
        explode(trigramList(normalized(col("text")))).as("tri"))
    val scored = docTris
      .join(broadcast(model), Seq("lang", "tri"), "left")
      .join(broadcast(floors), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        coalesce(col("logp_e9"), col("logp0_e9")).as("lp"))
      .groupBy("doc_id", "lang")
      .agg(sum("lp").as("sum_logp_e9"), count(lit(1)).as("n_tri"))
    // mean log-prob descending: highest likelihood first ⇒ tercile 1 is
    // CCNet's "head"; the division is exact-integer inputs → one double
    // op, identical across engines; doc_id totalizes the order
    val byLik = Window.partitionBy("lang")
      .orderBy((col("sum_logp_e9").cast("double") / col("n_tri")).desc,
        col("doc_id"))
    scored.select(col("doc_id"), col("lang"), col("n_tri"),
      col("sum_logp_e9"),
      element_at(array(lit("head"), lit("middle"), lit("tail")),
        ntile(3).over(byLik)).as("bucket"))
  }

  /** Train-on-self convenience: the CCNet shape with the corpus itself
    * as the reference distribution (a curated reference corpus slots in
    * by passing its model instead).
    *
    * Deliberately TWO fused explode passes (train, then score), not one
    * persisted trigram table: materializing the exploded (doc_id, lang,
    * tri) rows was MEASURED SLOWER (r6 bench 0.84 s fused vs 1.78 s
    * persisted) — each explode pipelines straight into a partial
    * aggregate / broadcast join inside one codegen stage, while the
    * persist pays a full cache write + read of the widest intermediate
    * in the query. Recompute-over-materialize is the right trade when
    * the producer is a cheap fused scan. */
  def perplexityBuckets(docs: DataFrame): DataFrame = {
    val (model, floors) = trainTrigramModel(docs)
    scoreAndBucket(docs, model, floors)
  }
}
