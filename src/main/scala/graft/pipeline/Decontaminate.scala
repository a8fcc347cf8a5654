package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-set decontamination — n-gram-overlap detection between a held-out
  * test split and the training corpus (the GPT-3-style published
  * procedure: a training document is contaminated if it shares an N-token
  * shingle with any test document; ubiquitous shingles are excluded by a
  * document-frequency cap, mirroring the "common phrase" carve-out).
  * Beyond-reference; the build brief's training-pipeline family.
  *
  * Scale shape: shingling is IN-ROW (`transform` over window starts +
  * `array_distinct`, then one explode — per-doc dedup costs no shuffle);
  * the overlap is an equi-join on the shingle hash. The DF cap both
  * implements the semantics and bounds the join's skew: no shingle key
  * carries more than `maxDf` corpus rows, so the hottest hash bucket is
  * bounded regardless of corpus size — same defense as the capped ngram
  * dedup (SURVEY §9.10).
  */
object Decontaminate {

  /** Per-document DISTINCT k-token shingle hashes, deduped in-row.
    *
    * Shingle md5s come from the ONE-PASS compiled kernel
    * [[graft.plans.TextHashExprs.tokenShinglesMd5]] over the RAW text —
    * bit-identical to the composed `trim(regexp_replace(.., "\\s+", " "))`
    * + `split` + `transform(slice/array_join/md5)` chain it replaced
    * (DecontaminateSpec pins the full differential): the kernel
    * normalizes in its own byte walk (the regexp_replace chain paid a
    * regex-engine scan plus ~4 buffer copies per row), and each
    * space-joined k-token window IS a byte range of the normalized
    * buffer, so md5 sees the same bytes with zero slice/join allocation
    * (measured ~25% of q_decontaminate for the window fusion, plus the
    * normalization pass). Docs with fewer than k tokens (incl. empty /
    * all-whitespace) yield an empty array, which `explode` drops — the
    * composed form's `nt != ''` and `size(toks) >= k` pre-filters. */
  def shingles(documents: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"shingle size must be positive, got $k")
    graft.plans.TextHashExprs.register(documents.sparkSession)
    documents
      .select(col("doc_id").cast("long").as("doc_id"),
        coalesce(col("text"), lit("")).as("raw"))
      .select(col("doc_id"),
        explode(graft.plans.TextHashExprs
          .token_shingles_md5(col("raw"), lit(k))).as("shingle"))
  }

  /** Contaminated training documents: share at least one k-shingle (with
    * corpus document frequency <= maxDf) with any test document. The test
    * split is `doc_id % testMod == 0`. Returns one row per contaminated
    * doc: distinct shared shingles and distinct test docs matched. */
  def contaminated(documents: DataFrame, k: Int, testMod: Long, maxDf: Long): DataFrame =
    sharedShingles(documents, k, testMod, maxDf)
      .groupBy("doc_id")
      .agg(
        countDistinct(col("shingle")).as("n_hit_shingles"),
        countDistinct(col("test_doc_id")).as("n_test_docs"))

  /** (doc_id, shingle, test_doc_id) for every DF-capped corpus shingle a
    * test document shares — the chain [[contaminated]] and
    * [[contaminationAudit]] group two ways. */
  private def sharedShingles(documents: DataFrame, k: Int, testMod: Long,
                             maxDf: Long): DataFrame = {
    val sh = shingles(documents, k)
    val test = sh.filter(col("doc_id") % testMod === 0)
      .select(col("doc_id").as("test_doc_id"), col("shingle"))
    // the corpus-side shingle explode feeds BOTH the document-frequency
    // purge and the overlap join — persist it once (released via
    // Materialize.release) instead of re-shingling the corpus per
    // consumer; the test side stays lazy (its doc_id filter pushes below
    // the explode, so it shingles ~1/testMod of the docs)
    val corpus = Materialize.cache(sh.filter(col("doc_id") % testMod =!= 0))
    DedupJobs.purge(corpus, Seq("shingle"), maxDf).join(test, "shingle")
  }

  /** Removal AUDIT (round-4 verdict #7): one row per (contaminated training
    * doc, test doc) pair with the count of shared capped shingles and the
    * lexicographically smallest shared shingle hash as a reproducible
    * example — what an operator needs to audit WHY a document was removed
    * and which test document triggered it (GPT-3 appendix C reports exactly
    * this kind of per-collision accounting). Same shingling/cap semantics as
    * [[contaminated]]: `contaminated` == this table grouped by doc_id. */
  def contaminationAudit(documents: DataFrame, k: Int, testMod: Long,
                         maxDf: Long): DataFrame =
    sharedShingles(documents, k, testMod, maxDf)
      .groupBy(col("doc_id"), col("test_doc_id"))
      .agg(
        countDistinct(col("shingle")).as("n_shared_shingles"),
        min(col("shingle")).as("example_shingle"))
}
