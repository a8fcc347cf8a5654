package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HTTP redirect-chain resolution — the crawl bookkeeping step between
  * fetching and corpus assembly. A crawl's fetch log is full of 3xx
  * hops; the corpus wants each URL mapped to the page that actually
  * served content (and duplicate-URL collapsing wants the canonical
  * landing URL as a join key). Reference behavior surface: the
  * reference pipeline consumes already-landed documents; this operator
  * is part of the web-scale ingest tier the brief adds on top.
  *
  * Semantics (stated so the DuckDB oracle can replay them exactly):
  *  - a fetch row `(url, status, location)` is a REDIRECT iff
  *    `status ∈ {301,302,303,307,308}` and `location` is non-null; its
  *    target is `canonicalize(resolve(url, location))` — RFC 9110
  *    §10.2.2 allows relative Location values, resolved per RFC 3986
  *    §5.2 against the redirecting URL;
  *  - every URL in the log is resolved by following targets up to
  *    `maxHops` hops:
  *      - landing on a NON-redirect fetch row → `fetched`
  *        (final_url = landing URL, final_status = its status);
  *      - landing on a URL with NO fetch row → `unfetched`
  *        (final_url = that URL, final_status = null);
  *      - still redirecting after `maxHops` hops (loops included —
  *        a loop IS an infinite chain) → `too_many`
  *        (final_url = null, final_status = null);
  *  - `n_hops` counts redirect edges followed (0 for a directly
  *    terminal URL; `maxHops` for `too_many`).
  *
  * Shape at 100 TB: the hop table carries `(url, status, dst)` only —
  * short keys, never page bytes. Round 1's join runs over every URL,
  * but the pending set after it is the redirect subset (single-digit
  * percent of a real crawl), so the K − 1 remaining rounds are joins of
  * a fast-shrinking minority against the hop table. A pointer-doubling
  * formulation would need only log₂ K rounds but must SQUARE the full
  * hop map each round (hop ⋈ hop on dst = src, composing paths nobody
  * asked for); with the crawler-conventional small fixed hop budget
  * (browsers and crawlers cap at 5-20), linear rounds over a shrinking
  * pending set move strictly less data. Each round cuts the
  * pending set — the same lineage-truncation pattern as
  * [[DedupJobs.connectedComponents]] and [[GraphJobs.pageRank]].
  */
object RedirectJobs {

  private val RedirectStatuses = Seq(301, 302, 303, 307, 308)

  /** Per-URL hop info: `(url, status, dst)` with `dst` the resolved +
    * canonicalized target for redirect rows, null otherwise. The
    * resolve runs in a narrow typed map in the scan stage (the
    * [[UrlOps]] kernel, same as [[GraphJobs.extractLinks]]). The log is
    * expected to carry one row per URL — collapsing re-crawls to the
    * latest attempt is the fetcher's bookkeeping, upstream of this
    * operator. */
  private def hopTable(spark: SparkSession, fetches: DataFrame): DataFrame = {
    import spark.implicits._
    fetches
      .select(col("url"), col("status").cast("int"), col("location"))
      .as[(String, Int, String)]
      .map { case (url, status, location) =>
        val dst =
          if (RedirectStatuses.contains(status) && location != null) {
            val abs = UrlOps.resolve(url, location)
            if (abs == null) null else UrlOps.canonicalize(abs)
          } else null
        (url, status, dst)
      }
      .toDF("url", "status", "dst")
  }

  /** Resolve every URL in `fetches` to its chain outcome. Output:
    * `(url, resolution, final_url, final_status, n_hops)`. */
  def resolveChains(spark: SparkSession, fetches: DataFrame,
                    maxHops: Int = 8): DataFrame = {
    require(maxHops >= 1, "resolveChains: maxHops must be >= 1")
    // Each round's stepped table is read twice (done split + next
    // pending), so it is cut ([[Materialize.cut]]); the result reads every
    // round's cut, so all of them live until release.
    val hops = hopTable(spark, fetches).transform(Materialize.cut)
    val info = hops.select(col("url").as("cur"),
      col("status").as("cur_status"), col("dst"))

    // Pending walkers: (url, cur, n_hops). Resolved rows accumulate.
    var pending = hops.select(col("url"), col("url").as("cur"),
      lit(0).as("n_hops"))
    var resolved: DataFrame = null
    var round = 0
    while (round < maxHops) {
      val stepped = pending.join(info, Seq("cur"), "left").transform(Materialize.cut)
      val done = stepped
        .filter(col("dst").isNull)
        .select(col("url"),
          when(col("cur_status").isNotNull, lit("fetched"))
            .otherwise(lit("unfetched")).as("resolution"),
          col("cur").as("final_url"),
          col("cur_status").as("final_status"),
          col("n_hops"))
      resolved = if (resolved == null) done else resolved.union(done)
      pending = stepped
        .filter(col("dst").isNotNull)
        .select(col("url"), col("dst").as("cur"),
          (col("n_hops") + 1).as("n_hops"))
      round += 1
    }
    // Post-budget classification: a walker whose cur is terminal landed
    // exactly at hop maxHops; one still on a redirect row (or a loop)
    // is over budget.
    val last = pending.join(info, Seq("cur"), "left")
    val tail = last.select(col("url"),
      when(col("dst").isNotNull, lit("too_many"))
        .when(col("cur_status").isNotNull, lit("fetched"))
        .otherwise(lit("unfetched")).as("resolution"),
      when(col("dst").isNotNull, lit(null).cast("string"))
        .otherwise(col("cur")).as("final_url"),
      when(col("dst").isNull, col("cur_status"))
        .otherwise(lit(null).cast("int")).as("final_status"),
      col("n_hops"))
    resolved.union(tail)
  }

  /** Deterministic synthetic fetch log over the documents table — one
    * start URL per doc plus the auxiliary rows its variant needs; every
    * URL, status and (post-resolution) target below is restatable as a
    * SQL literal, while the Spark side runs the real RFC 3986 resolve +
    * canonicalize kernel on the raw Location values (variants 1 and 2
    * carry RELATIVE locations).
    *
    * variant = doc_id % 5:
    *  0: direct 200;
    *  1: 301 with an absolute-path relative Location → 200 (1 hop);
    *  2: 302 with a path-merge relative Location → 301 absolute → 404
    *     terminal (2 hops, non-2xx landing);
    *  3: 308 to a URL with no fetch row (unfetched);
    *  4: 301/302 two-node loop (too_many). */
  def syntheticFetchLog(spark: SparkSession, documents: DataFrame): DataFrame = {
    val base = concat(lit("https://www."), col("source"), lit("-site.com"))
    val start = concat(base, lit("/p"), col("doc_id"))
    val v = (col("doc_id") % 5).cast("int")
    val rows = array(
      // start row for every doc
      struct(start.as("url"),
        when(v === 0, lit(200)).when(v === 1, lit(301))
          .when(v === 2, lit(302)).when(v === 3, lit(308))
          .otherwise(lit(301)).as("status"),
        when(v === 1, concat(lit("/r/"), col("doc_id")))
          .when(v === 2, concat(lit("hop-"), col("doc_id")))
          .when(v === 3, concat(base, lit("/missing"), col("doc_id")))
          .when(v === 4, concat(base, lit("/loopA"), col("doc_id")))
          .otherwise(lit(null).cast("string")).as("location")),
      // first auxiliary row (v1: landing; v2: middle hop; v4: loopA)
      when(v === 1, struct(concat(base, lit("/r/"), col("doc_id")).as("url"),
          lit(200).as("status"), lit(null).cast("string").as("location")))
        .when(v === 2, struct(concat(base, lit("/hop-"), col("doc_id")).as("url"),
          lit(301).as("status"),
          concat(base, lit("/end"), col("doc_id")).as("location")))
        .when(v === 4, struct(concat(base, lit("/loopA"), col("doc_id")).as("url"),
          lit(302).as("status"),
          concat(base, lit("/loopB"), col("doc_id")).as("location"))),
      // second auxiliary row (v2: 404 landing; v4: loopB)
      when(v === 2, struct(concat(base, lit("/end"), col("doc_id")).as("url"),
          lit(404).as("status"), lit(null).cast("string").as("location")))
        .when(v === 4, struct(concat(base, lit("/loopB"), col("doc_id")).as("url"),
          lit(301).as("status"),
          concat(base, lit("/loopA"), col("doc_id")).as("location"))))
    documents.select(explode(rows).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.url"), col("r.status"), col("r.location"))
  }
}
