package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic stratified sampling for training-data mixing: keep each
  * row with a PER-STRATUM rate (e.g. downsample English to 10%, keep
  * Chinese at 50%) decided by a hash of the row's stable key — not by
  * `rand()`.
  *
  * Why hash-based and not `DataFrame.sample` at 100 TB:
  *  - **retry-stable**: a speculative or re-run task keeps exactly the same
  *    rows (rand()-based sampling resamples per attempt, so a retried
  *    partition silently changes the corpus);
  *  - **map-only**: the decision is a per-row expression on the scan — no
  *    shuffle, no state, composes with predicate pushdown;
  *  - **reproducible across engines/runs**: the sample is a pure function
  *    of (key, rates), so two pipelines sampling the same table agree
  *    row-for-row (and the sample is auditable in SQL).
  *
  * Mechanics: bucket = first two hex chars of md5(key) — 256 equiprobable,
  * key-uniform buckets; keep the row when `bucket < hex(round(rate*256))`
  * (lexicographic order on fixed-width lowercase hex IS numeric order).
  * Rate granularity is therefore 1/256; rates >= 1.0 keep everything.
  */
object SamplingJobs {

  /** The 2-hex-char threshold encoding round(rate*256); None = keep all. */
  private[graft] def thresholdHex(rate: Double): Option[String] = {
    require(rate >= 0.0, s"negative sampling rate $rate")
    val n = math.round(rate * 256).toInt
    if (n >= 256) None else Some("%02x".formatLocal(java.util.Locale.ROOT, n))
  }

  /** 256-bucket key hash: first two hex chars of md5(key as string). */
  def hashBucket(key: Column): Column =
    substring(md5(key.cast("string").cast("binary")), 1, 2)

  /** Rows of `df` sampled at `rates(stratum)` (falling back to
    * `defaultRate`), plus the `bucket` column that decided each row.
    * Deterministic in (key, rates) — same rows on every run and retry. */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
                       rates: Map[String, Double],
                       defaultRate: Double): DataFrame = {
    val bucket = hashBucket(key)
    val thresholds = (rates.toSeq.sortBy(_._1).map { case (s, r) => (lit(s), r) } :+
      (lit(null).cast("string"), defaultRate))
    // CASE stratum WHEN s THEN bucket < hex(rate) ... ELSE bucket < hex(default)
    val keep = thresholds.init.foldRight(
      thresholdHex(defaultRate).map(bucket < lit(_)).getOrElse(lit(true))) {
      case ((sLit, r), elseCol) =>
        when(stratum === sLit,
          thresholdHex(r).map(bucket < lit(_)).getOrElse(lit(true)))
          .otherwise(elseCol)
    }
    df.withColumn("bucket", bucket).filter(keep)
  }

  /** Per-host quota capping — the crawl-side balancing step
    * (Common-Crawl-lineage pipelines cap documents per registered
    * domain so megasites don't dominate the corpus): keep at most `k`
    * rows per `host`, chosen DETERMINISTICALLY by md5(key) rank — the
    * same retry-stable, engine-reproducible discipline as
    * [[stratifiedSample]] (a rand()-ranked cap silently changes the
    * corpus on task retry; a first-k-seen cap depends on scan order).
    * Emits the rank as `rk` (1-based) so the selection is auditable.
    * `key` must identify rows within a host (duplicate (host, key) rows
    * would tie the rank, which even the window form ordered arbitrarily).
    *
    * Shape at 100 TB — TWO-PHASE top-k, not a per-host window: a window
    * rank must colocate ALL of a host's rows in ONE task before sorting
    * (AQE's skew splitting applies to joins/rebalance, NOT to window
    * partitions), so a megasite (1e8+ pages) serializes on one sorting
    * task. Instead:
    *  1. `topk_min` ([[graft.plans.TopKMinAgg]]) aggregates the k
    *     smallest (md5 rank, key) pairs per host with a BOUNDED buffer —
    *     the map-side partial holds at most k entries per (host, map
    *     task), so no exchange carries more than k·numPartitions rows
    *     per host, and only (rank, key) bytes shuffle, never payload;
    *  2. the winner list (array position + 1 = the exact rank) joins
    *     back null-safely on (host, key) — k·hosts rows, the broadcast /
    *     bloom-prunable side — to recover full rows. Identical rows and
    *     ranks to the window form (differential-tested in SamplingSpec
    *     on a 90%-one-host skew fixture). */
  def hostQuota(df: DataFrame, host: Column, key: Column, k: Int): DataFrame = {
    require(k > 0, s"non-positive host quota $k")
    graft.plans.TopKMinAgg.register(df.sparkSession)
    val winners = df
      .groupBy(host.as("__hq_host"))
      .agg(call_function("topk_min",
        md5(key.cast("string").cast("binary")), key, lit(k)).as("__top"))
      .select(col("__hq_host"),
        posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("__hq_host"), col("__e.key").as("__hq_key"),
        (col("__pos") + 1).cast("int").as("rk"))
    df.join(winners, host <=> col("__hq_host") && key <=> col("__hq_key"))
      .drop("__hq_host", "__hq_key")
  }
}
