package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.extract.ExtractAll
import graft.pipeline.{AnnJobs, CorpusGen, ExtractJob, PiiOps, ReportJob}

/** Driver contract (see SURVEY.md §7 and the per-operator inventory §2).
  *
  * Each `queries` entry is one operator family from SURVEY.md §2 expressed
  * Spark-first; `oracleSql` carries the DuckDB-equivalent ANSI SQL over the
  * same parquet tables. Column names and ordering are aligned on both sides
  * (the driver's compare sorts columns by name and hashes values).
  *
  * Float discipline: any aggregated float is summed as DECIMAL (exact, so
  * partial-aggregation order can't change the result) and cast back to
  * DOUBLE; cosines are rounded to 4dp before ranking with a deterministic
  * id tiebreak. */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Register the testdata tables as temp views for spark.sql queries. */
  private def views(s: SparkSession, dir: String): Unit = {
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "events", "documents", "embeddings")
      .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
  }

  /** Deterministic synthetic-corpus size per scale factor directory. */
  def corpusSize(dir: String): Long = {
    val sf = """sf([0-9.]+)""".r.findFirstMatchIn(dir).map(_.group(1).toDouble).getOrElse(0.001)
    math.max(500L, (sf * 100000).toLong)
  }

  /** Flagship: full extraction over the synthetic corpus at sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val docs = CorpusGen.generate(spark, 500, 8)
    ExtractJob.extractRecords(spark, docs, 8).toDF()
  }

  /** Per-JVM cache of built IVF index dirs, keyed by sf dir (see
    * q_ann_ivf_probe): reps reuse the index, fresh processes rebuild. */
  private val ivfIndexDirs = scala.collection.mutable.Map.empty[String, String]

  /** Same lifecycle for the incremental-dedup signature index
    * (q_dedup_incremental): reps probe a cached index, fresh processes
    * rebuild it. */
  private val dedupIndexDirs = scala.collection.mutable.Map.empty[String, String]

  /** The end-to-end training-data pipeline behind q_training_pipeline and
    * (with `nearDup`) q_training_pipeline_neardup: Gopher quality gate →
    * exact dedup (first doc per normalized-text hash) → [near-dup dedup] →
    * held-out split + decontamination → chunk → pack. Returns the one-row
    * stage-count summary as a local DataFrame.
    *
    * Every stage boundary whose output is consumed MORE THAN ONCE is cut
    * exactly once ([[graft.pipeline.Materialize.cut]]; round-3 verdict #2:
    * Spark re-executes a DataFrame's lineage per consumer).
    *
    * Stage counts are OBSERVED on the cuts that run anyway
    * (`Dataset.observe`): each count is an accumulator filled in the same
    * pass that materializes its stage, and the summary row is assembled
    * locally. A crossJoin of per-stage 1-row aggregates would re-scan every
    * checkpoint in jobs of its own, and its extra generated classes push a
    * run past Spark's 100-entry codegen cache. `n_dedup` is a `sum`, so an
    * input where no doc passes the gate reports it as null. */
  private def trainingPipeline(s: SparkSession, dir: String, nearDup: Boolean): DataFrame = {
    import org.apache.spark.sql.{Observation, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val n = count(lit(1))
    val obsInput, obsQuality, obsDedup, obsNear, obsTrain, obsChunks, obsPacks = Observation()
    graft.plans.TextHashExprs.register(s)
    // Gopher gate + exact-dedup fingerprint (the one-pass norm_md5 kernel,
    // == md5(trim(regexp_replace(text, "\\s+", " "))) bit-for-bit) in one
    // shuffle-free cut. n_input is observed here and not under the dedup
    // window: when no doc passes, adaptive execution replaces the window's
    // empty input stage and the observations inside it with an empty
    // relation, and they would never report. Observations in a
    // shuffle-free plan, or directly under a cut, are never removed that
    // way (TrainingPipelineSpec pins the empty and all-failing inputs).
    val q = graft.pipeline.QualityFilters
      .gopherSignals(t(s, dir, "documents").observe(obsInput, n.as("n_input")))
      .filter(col("passes"))
      .select(col("doc_id"), col("text"),
        graft.plans.TextHashExprs.norm_md5(coalesce(col("text"), lit(""))).as("nthash"))
      .observe(obsQuality, n.as("n_quality"))
      .transform(graft.pipeline.Materialize.cut)
    val dedAll = q
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("nthash")).orderBy(col("doc_id"))))
      .select(col("doc_id"), col("text"), col("rn"))
      .observe(obsDedup, sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_dedup"))
      .transform(graft.pipeline.Materialize.cut)
    val ded = dedAll.filter(col("rn") === 1)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    // near-dup pairs over the exact-dedup survivors (exact dups are
    // jaccard-1.0 pairs; removing them first keeps the pair graph to
    // genuinely fuzzy edges), then components -> drop non-canonical
    // members. Docs in no pair never enter the graph and are kept.
    val kept = if (!nearDup) ded else {
      val pairs = graft.pipeline.DedupJobs.minhashVerifiedPairs(
        ded, numHashes = 8, bands = 4, bucketCap = 200, jaccardThreshold = 0.9)
      val dropIds = graft.pipeline.DedupJobs
        .connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
        .filter(col("is_canonical") === 0)
        .select(col("doc_id").cast("long").as("doc_id"))
      ded.join(dropIds, Seq("doc_id"), "left_anti")
        .observe(obsNear, n.as("n_neardup"))
        .transform(graft.pipeline.Materialize.cut)
    }
    val contam = graft.pipeline.Decontaminate
      .contaminated(kept, k = 4, testMod = 97L, maxDf = 50L)
      .select(col("doc_id"))
    val train = kept.filter(col("doc_id") % 97 =!= 0)
      .join(contam, Seq("doc_id"), "left_anti")
      .observe(obsTrain, n.as("n_train"))
      .transform(graft.pipeline.Materialize.cut)
    // chunk metadata only: packing never reads chunk text (ChunkJobs),
    // and neither does the n_chunks count.
    val chunkMeta = graft.pipeline.ChunkJobs.chunk(train, 32, 8)
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"))
      .observe(obsChunks, n.as("n_chunks"))
      .transform(graft.pipeline.Materialize.cut)
    graft.pipeline.ChunkJobs.packMeta(s, chunkMeta, 100).toDF()
      .observe(obsPacks, n.as("n_packs"))
      .write.format("noop").mode("overwrite").save()
    val counts =
      Seq(obsInput -> "n_input", obsQuality -> "n_quality", obsDedup -> "n_dedup") ++
        (if (nearDup) Seq(obsNear -> "n_neardup") else Nil) ++
        Seq(obsTrain -> "n_train", obsChunks -> "n_chunks", obsPacks -> "n_packs")
    val schema = StructType(counts.map { case (_, c) =>
      StructField(c, LongType, nullable = c == "n_dedup") })
    s.createDataFrame(java.util.List.of(Row.fromSeq(counts.map { case (o, c) => o.get(c) })),
      schema)
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A-class aggregations -------------------------------------------------
    "q_pricing_summary" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q_lang_dist" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))),

    "q_source_dist" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .orderBy(col("source"))),

    "q_doc_completeness" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.agg(
        count(lit(1)).as("total"),
        sum(when(trim(coalesce(col("text"), lit(""))) =!= "", 1).otherwise(0)).as("text_complete"),
        sum(when(trim(coalesce(col("lang"), lit(""))) =!= "", 1).otherwise(0)).as("lang_complete"),
        sum(when(trim(coalesce(col("source"), lit(""))) =!= "", 1).otherwise(0)).as("source_complete"))
    }),

    // A4's long form routed through ReportJob.fieldCompleteness so the
    // stack/percentage path gets a driver oracle (q_doc_completeness covers
    // the wide counts; the golden report covers it on real records).
    "q_completeness_long" -> ((s, dir) =>
      ReportJob.fieldCompleteness(
        t(s, dir, "documents").select(col("text"), col("lang"), col("source")),
        Seq("text", "lang", "source"))
        .orderBy(col("field"))),

    // A2/A3 routed through the ReportJob aggregations over records-shaped
    // projections of the documents table, so the report code paths get
    // driver-oracle rows (the golden report covers them on real records).
    "q_court_dist" -> ((s, dir) => {
      val courtName = when(col("doc_id") % 7 === 0, "unknown")
        .otherwise(concat(col("source"), lit("_"), col("lang"), lit("_"),
          repeat(lit("x"), (col("doc_id") % 4).cast("int") * 20)))
      ReportJob.courtDistribution(
        t(s, dir, "documents").select(courtName.as("court_name")))
        .orderBy(col("court"))
    }),

    "q_casetype_dist" -> ((s, dir) => {
      val caseType = when(col("doc_id") % 7 === 0, "unknown")
        .when(col("doc_id") % 3 === 0, "Type Application")
        .when(col("doc_id") % 3 === 1, "Debt Action")
        .otherwise("Misc Proceedings")
      ReportJob.caseTypeDistribution(
        t(s, dir, "documents").select(caseType.as("case_type")))
        .orderBy(col("bucket"))
    }),

    // J-class joins / set ops ----------------------------------------------
    "q_customers_no_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val bigOrders = o.filter(col("o_totalprice") > 300000)
      c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "q_revenue_by_segment" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }),

    "q_merge_dedupe" -> ((s, dir) => {
      // J3: union-with-first-priority on a key (merge_json_files.py:41-62),
      // modeled over documents split into two overlapping result sets.
      val d = t(s, dir, "documents")
      val first = d.filter(col("doc_id") < 300).select(col("doc_id"), col("source"))
      val second = d.filter(col("doc_id") >= 200)
        .select(col("doc_id"), concat(col("source"), lit("_v2")).as("source"))
      val newOnly = second.join(first.select("doc_id"), Seq("doc_id"), "left_anti")
      first.unionByName(newOnly).orderBy(col("doc_id"))
    }),

    // W-class windows / top-k ----------------------------------------------
    "q_top_orders_per_cust" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    "q_similar_docs" -> ((s, dir) => {
      // J2: similarity self-join + per-key top-k (graph_database.py:240-271
      // shape). Decomposed into equi-joins instead of the N² theta join:
      // similarity >= 0.5 forces lang equality (0.5) OR source equality +
      // |Δn| < 100 (0.3 + 0.2 = exactly 0.5), so candidates are the union
      // of (1) an equi-join on lang and (2) an equi-join on (source,
      // n-chars band) over bands of width 100 plus the ±1 neighbor bands —
      // branch (2) keeps only lang-unequal pairs, making the union disjoint.
      val d = t(s, dir, "documents")
      val a = d.filter(col("doc_id") < 50).select(
        col("doc_id").as("a_id"), col("lang").as("a_lang"),
        col("source").as("a_source"), col("n_chars").as("a_n"))
      val b = d.select(
        col("doc_id").as("b_id"), col("lang").as("b_lang"),
        col("source").as("b_source"), col("n_chars").as("b_n"))

      val candLang = a.join(b,
        col("a_lang") === col("b_lang") && col("a_id") =!= col("b_id"))
      val aBanded = a.withColumn("a_band",
        explode(array(floor(col("a_n") / 100) - 1, floor(col("a_n") / 100),
          floor(col("a_n") / 100) + 1)))
      val bBanded = b.withColumn("b_band", floor(col("b_n") / 100))
      // Null-safe disjointness: branch (1) keeps pairs whose lang equality
      // is TRUE; branch (2) must keep the complement — unequal OR either
      // lang null (a null lang scores 0 on the lang term but can still
      // reach 0.5 via source + band, so a plain =!= would silently drop
      // such pairs; current corpora have no null langs, this guards the
      // documented theta-join semantics regardless).
      val candRange = aBanded.join(bBanded,
          col("a_source") === col("b_source") && col("a_band") === col("b_band") &&
          col("a_id") =!= col("b_id"))
        .filter(coalesce(col("a_lang") =!= col("b_lang"), lit(true)) &&
          abs(col("a_n") - col("b_n")) < 100)
        .drop("a_band", "b_band")

      val sim = when(col("a_lang") === col("b_lang"), 0.5).otherwise(0.0) +
        when(col("a_source") === col("b_source"), 0.3).otherwise(0.0) +
        when(abs(col("a_n") - col("b_n")) < 100, 0.2).otherwise(0.0)
      val w = Window.partitionBy(col("a_id")).orderBy(desc("similarity"), col("b_id"))
      candLang.unionByName(candRange)
        .withColumn("similarity", sim)
        .filter(col("similarity") >= 0.5)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("a_id"), col("b_id"), col("similarity"), col("rn"))
        .orderBy(col("a_id"), col("rn"))
    }),

    // Dedup family ---------------------------------------------------------
    "q_dedup_exact" -> ((s, dir) => {
      // The duplicated shard (every 5th doc re-landing under a shifted id —
      // test scaffolding for the dedup) is fanned out IN-ROW from one scan
      // instead of the former UNION ALL double-scan of the table.
      graft.plans.TextHashExprs.register(s)
      val d = t(s, dir, "documents")
      val ids = filter(
        array(col("doc_id"),
          when(col("doc_id") % 5 === 0, col("doc_id") + 1000000L)),
        x => x.isNotNull)
      // fingerprint via the one-pass ws_normalize kernel (==
      // lower(regexp_replace(text, "\\s+", " ")) bit-for-bit)
      d.select(explode(ids).as("doc_id"), col("text"))
        .groupBy(md5(graft.plans.TextHashExprs
          .ws_normalize(col("text"), doTrim = false, doLower = true)).as("fp"))
        .agg(count(lit(1)).as("dup_count"), min(col("doc_id")).as("keep_id"))
        .filter(col("dup_count") > 1)
        .orderBy(col("fp"))
    }),

    "q_dedup_minhash" -> ((s, dir) =>
      // banded MinHash candidates: 4 hashes in 2 bands, no bucket cap
      graft.pipeline.DedupJobs.candidatePairs(t(s, dir, "documents"), 4, 2, Int.MaxValue)
        .filter(col("doc_a") < 25)
        .orderBy(col("doc_a"), col("doc_b"))),

    "q_dedup_minhash_verified" -> ((s, dir) =>
      graft.pipeline.DedupJobs.minhashVerified(
        t(s, dir, "documents"), numHashes = 8, bands = 4,
        bucketCap = 200, jaccardThreshold = 0.5)),

    "q_dedup_incremental" -> ((s, dir) => {
      // Snapshot-over-snapshot dedup: the corpus' banded signature index is
      // built ONCE (per JVM+sf, like the IVF index), then the "new crawl" —
      // every doc_id % 7 == 3 doc re-arriving under a shifted id, the
      // re-crawl norm — is signatured alone and probed against the index.
      // Cross-pair semantics equal a batch minhashVerified over the union
      // (combined-size bucket cap), which is exactly what the DuckDB
      // oracle replays.
      val docs = t(s, dir, "documents")
      val idx = dedupIndexDirs.synchronized {
        dedupIndexDirs.getOrElseUpdate(dir, {
          val d = java.nio.file.Files
            .createTempDirectory("graft_dedup_index_").toString
          graft.pipeline.DedupJobs.buildMinhashIndex(
            docs, d, numHashes = 8, bands = 4)
          d
        })
      }
      val snapshot = docs.filter(col("doc_id") % 7 === 3)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      graft.pipeline.DedupJobs.dedupAgainstIndex(s, idx, snapshot, docs,
          bucketCap = 200, jaccardThreshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "q_dedup_components" -> ((s, dir) => {
      // Pairs -> dedup DECISIONS: connected components over the verified
      // near-dup pairs (higher threshold than q_dedup_minhash_verified so
      // the graph has real cluster structure), each doc labeled with its
      // cluster (min reachable doc_id), the cluster size, and whether it is
      // the canonical keeper. Min-label propagation + pointer jumping —
      // O(log diameter) rounds of id-equi-joins, see DedupJobs.
      val pairs = graft.pipeline.DedupJobs.minhashVerifiedPairs(
        t(s, dir, "documents"), numHashes = 8, bands = 4,
        bucketCap = 200, jaccardThreshold = 0.9)
      graft.pipeline.DedupJobs.connectedComponents(
        pairs.select(col("doc_a"), col("doc_b")))
    }),

    "q_dedup_simhash" -> ((s, dir) => {
      // Per-doc simhash computed entirely in-row in one compiled pass
      // (graft.plans.SimHash16Expr): each token votes ±1 on each of the 16
      // bits by the top bit of its seeded md5 — sum(c) >= 0 ⟺ 2·pos >= n.
      // The former tokens×bits CROSS JOIN shuffled the token stream 16×.
      // ScanParallelism.ensure fans the heavy projection out across cores
      // when the table arrives as a single input split (the round-2 local
      // regression); at real scale it is a no-op.
      graft.plans.TextHashExprs.register(s)
      val d = graft.pipeline.ScanParallelism.ensure(t(s, dir, "documents"))
      val toks = graft.plans.TextHashExprs.ascii_tokens(col("text"))
      d.withColumn("toks", toks)
        .filter(size(col("toks")) > 0) // zero-token docs fell out of the GROUP BY
        .select(col("doc_id"),
          graft.plans.TextHashExprs.simhash16(col("toks")).as("simhash"))
        .orderBy(col("doc_id"))
    }),

    "q_dedup_ngram" -> ((s, dir) =>
      // DEMO-SCALE ONLY: uncapped trigram Jaccard behind a doc_a filter —
      // never benchmark or run this form at corpus scale; the scale path is
      // q_dedup_ngram_capped (DF-capped join key, full corpus).
      graft.pipeline.DedupJobs.ngramJaccardCapped(t(s, dir, "documents"), 3, Int.MaxValue, 0.6)
        .filter(col("doc_a") < 30)
        .orderBy(col("doc_a"), col("doc_b"))),

    "q_dedup_ngram_capped" -> ((s, dir) =>
      // Full-corpus ngram Jaccard made feasible by the document-frequency
      // cap (the uncapped q_dedup_ngram needs its demo-scale doc_a filter).
      graft.pipeline.DedupJobs.ngramJaccardCapped(
        t(s, dir, "documents"), n = 3, dfCap = 50, threshold = 0.6)),

    "q_dedup_embedding" -> ((s, dir) => {
      // Embedding-cosine near-dup: candidates restricted to the sign-LSH
      // bucket (same 8-bit bucketing as the ANN family), exact cosine on
      // in-bucket pairs only — never all-pairs. The synthetic embeddings
      // are near-orthogonal, so the demonstrative threshold is low; at a
      // real corpus it would sit at ~0.95. The ANN family's sides and
      // cosine: each norm once per row, before the join.
      val withB = t(s, dir, "embeddings")
        .withColumn("bucket", AnnJobs.signBucket(col("embedding")))
      def side(p: String) = AnnJobs.side(withB, p, col("embedding"), int8 = false, col("bucket"))
      side("q").join(side("n"), Seq("bucket")).filter(col("q_id") < col("n_id"))
        .withColumn("cos_sim", AnnJobs.cosine())
        .filter(col("cos_sim") >= 0.2)
        .select(col("q_id").as("id_a"), col("n_id").as("id_b"), col("cos_sim"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Similarity search ----------------------------------------------------
    "q_ann_cosine" -> ((s, dir) =>
      // Exact cosine top-5 over all pairs: the brute-force ANN path.
      AnnJobs.bruteForceTopK(s, t(s, dir, "embeddings"), col("vec_id") < 10, k = 5)),

    "q_ann_lsh_bucket" -> ((s, dir) => {
      // Axis-aligned hyperplane LSH: bucket = sign bits of dims 1..8.
      val e = t(s, dir, "embeddings")
      e.withColumn("bucket", AnnJobs.signBucket(col("embedding")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("vec_id")).as("rep"))
        .orderBy(col("bucket"))
    }),

    "q_ann_lsh_topk" -> ((s, dir) =>
      // The scale path: candidates restricted to the query's LSH bucket,
      // then exact cosine top-3 within the bucket.
      AnnJobs.lshTopK(t(s, dir, "embeddings"), col("vec_id") < 10, k = 3)),

    "q_ann_ivf" -> ((s, dir) => {
      // IVF coarse-quantizer ANN (rows-only check: KMeans training is not
      // DuckDB-expressible; recall vs brute force is asserted in AnnSpec).
      val e = t(s, dir, "embeddings")
      AnnJobs.ivfTopK(s, e, col("vec_id") < 10,
        k = 5, nlist = 8, nprobe = 2)
    }),

    "q_ann_quantized" -> ((s, dir) => {
      // All-pairs top-k over int8-quantized (max-abs) embeddings — the
      // labeled brute-force BASELINE for quantization recall. The shipped
      // representation is the int8 struct (1 byte/dim); reconstruction
      // happens probe-side. The scale paths are q_ann_lsh_quantized /
      // q_ann_ivf_quantized below.
      val e = t(s, dir, "embeddings")
      AnnJobs.quantizedTopK(e, col("vec_id") < 10, k = 5)
    }),

    "q_ann_lsh_quantized" -> ((s, dir) => {
      // int8-quantized candidates ranked WITHIN sign-LSH buckets: the
      // memory-bound ANN path with bucketed (equi-join) candidate
      // generation — 1 byte/dim through the join, exact cosine on
      // probe-side reconstructed vectors. Fully DuckDB-expressible.
      val e = t(s, dir, "embeddings")
      AnnJobs.lshQuantizedTopK(e, col("vec_id") < 10, k = 3)
    }),

    "q_ann_ivf_quantized" -> ((s, dir) => {
      // int8 candidates within probed IVF cells — the combined scale path
      // a 100-TB deployment runs (rows-only check: KMeans training is not
      // DuckDB-expressible; AnnSpec asserts recall vs brute force).
      val e = t(s, dir, "embeddings")
      AnnJobs.ivfQuantizedTopK(s, e, col("vec_id") < 10,
        k = 5, nlist = 8, nprobe = 2)
    }),

    "q_ann_hyperplane_quantized" -> ((s, dir) => {
      // Random-hyperplane (±1, seeded) sign-LSH buckets over int8
      // candidates: distribution-robust where axis-aligned sign bits
      // collapse (AnnSpec's correlated-dims fixture). The oracle bakes the
      // identical seeded matrix into SQL, so this is fully oracle-checked.
      val e = t(s, dir, "embeddings")
      AnnJobs.hyperplaneQuantizedTopK(e, col("vec_id") < 10,
        dim = 64, k = 3, nBits = 8, seed = 7L)
    }),

    "q_ann_ivf_probe" -> ((s, dir) => {
      // Index-once / probe-many (round-4 verdict #2): buildIndex persists
      // centroids + the cell-partitioned int8 corpus; probeIndex answers
      // from the index alone — zero training jobs, partition-pruned
      // candidate scan. Built once per sf dir (the _built marker), so
      // bench reps measure the PROBE, which is the serving-path cost.
      // Rows-only check (KMeans index build is not DuckDB-expressible);
      // AnnSpec pins probe == fused ivfQuantizedTopK row equality.
      val e = t(s, dir, "embeddings")
      // Cached per (JVM, sf dir) under a FRESH temp root — bench reps in
      // one JVM measure the probe (the serving-path cost), while a new
      // process always rebuilds, so a stale index from older code can
      // never serve answers.
      val idx = ivfIndexDirs.synchronized {
        ivfIndexDirs.getOrElseUpdate(dir, {
          val d = java.nio.file.Files
            .createTempDirectory("graft_ivf_index_").toString
          AnnJobs.buildIndex(s, e, d, nlist = 8)
          d
        })
      }
      AnnJobs.probeIndex(s, idx,
        e.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding")),
        k = 5, nprobe = 2)
    }),

    // Text analysis --------------------------------------------------------
    "q_lang_id" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      def hits(words: String): Column =
        size(regexp_extract_all(lower(col("text")), lit(s"\\b(?:$words)\\b"), lit(0)))
      val en = hits("the|and|of|to|a")
      val de = hits("der|und|die|das|ein")
      val fr = hits("le|la|et|les|un")
      d.select(
        col("doc_id"),
        en.as("en_hits"), de.as("de_hits"), fr.as("fr_hits"),
        when(en >= de && en >= fr, "en")
          .when(de >= fr, "de").otherwise("fr").as("lang_guess"))
        .orderBy(col("doc_id"))
    }),

    "q_quality_score" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val nTokens = size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
      val nPunct = size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0)))
      val nStop = size(regexp_extract_all(lower(col("text")), lit("\\b(?:the|and|of|a|to)\\b"), lit(0)))
      d.select(
        col("doc_id"),
        nTokens.as("n_tokens"),
        nPunct.as("n_punct"),
        nStop.as("n_stop"),
        round(
          least(nTokens.cast("double") / 100.0, lit(1.0)) * 0.5 +
          (lit(1.0) - least(nPunct.cast("double") / greatest(nTokens, lit(1)).cast("double"), lit(1.0))) * 0.25 +
          least(nStop.cast("double") / greatest(nTokens, lit(1)).cast("double") * 5.0, lit(1.0)) * 0.25,
          6).as("quality"))
        .orderBy(col("doc_id"))
    }),

    "q_token_count" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
          .as("bpe_ish_tokens"))
        .orderBy(col("doc_id"))
    }),

    "q_sample_stratified" -> ((s, dir) => {
      // Deterministic per-stratum sampling for training-data mixing:
      // downsample en to 10%, keep zh at 50%, default 25% — decided by an
      // md5 bucket of doc_id, not rand(), so the sample is map-only,
      // retry-stable, and byte-reproducible across engines (the DuckDB
      // oracle recomputes the identical sample).
      graft.pipeline.SamplingJobs.stratifiedSample(
        t(s, dir, "documents"), key = col("doc_id"), stratum = col("lang"),
        rates = Map("en" -> 0.10, "zh" -> 0.50), defaultRate = 0.25)
        .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    "q_host_quota" -> ((s, dir) => {
      // Per-host quota capping (Common-Crawl-style host balancing): at
      // most 20 docs per source, picked by deterministic md5(doc_id)
      // rank — retry-stable and exactly replayable in SQL; rk audits
      // the selection.
      graft.pipeline.SamplingJobs.hostQuota(
        t(s, dir, "documents"), host = col("source"), key = col("doc_id"), k = 20)
        .select(col("doc_id"), col("source"), col("rk"))
        .orderBy(col("doc_id"))
    }),

    "q_fingerprint" -> ((s, dir) => {
      // Per-doc rolling-shingle fingerprint in ONE compiled in-row pass
      // (graft.plans.TextHashExprs.shingleMinMax): the former plan exploded every
      // character position into a row and shuffled ~8× the corpus bytes
      // back through a groupBy. No explode, identical output; the only
      // shuffles are the output sort and the single-split parallelism guard.
      graft.plans.TextHashExprs.register(s)
      val d = graft.pipeline.ScanParallelism.ensure(t(s, dir, "documents"))
      val nt = graft.plans.TextHashExprs
        .ws_normalize(col("text"), doTrim = false, doLower = true)
      d.withColumn("nt", nt)
        .withColumn("mm", graft.plans.TextHashExprs.shingle_minmax(col("nt"), lit(8)))
        .select(col("doc_id"), md5(col("nt")).as("fp"),
          col("mm.mn").as("min_shingle"), col("mm.mx").as("max_shingle"))
        .orderBy(col("doc_id"))
    }),

    // Events (streaming-analogue windowed aggregation) ---------------------
    "q_events_hourly" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(25,6)")).cast("double").as("total"))
        .orderBy(col("event_type"), col("hour"))
    }),

    "q_events_top_users" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.groupBy(col("user_id"))
        .agg(sum(col("value").cast("decimal(25,6)")).cast("double").as("total"),
          count(lit(1)).as("n_events"))
        .orderBy(desc("total"), col("user_id"))
        .limit(5)
    }),

    // KG-shaped operators with oracles ---------------------------------------
    "q_kg_sues" -> ((s, dir) => {
      // J1: per-case plaintiff×defendant cross product via double explode —
      // no join, the cross product stays row-local (data_importer.py:289-295
      // semantics, demonstrated over token-derived party arrays).
      views(s, dir)
      s.sql("""
        WITH parties AS (
          SELECT doc_id,
                 slice(regexp_extract_all(lower(text), '[a-z]+', 0), 1, 2) AS plaintiffs,
                 slice(regexp_extract_all(lower(text), '[a-z]+', 0), 4, 2) AS defendants
          FROM documents),
        sues AS (
          SELECT p, d
          FROM parties
          LATERAL VIEW explode(plaintiffs) t1 AS p
          LATERAL VIEW explode(defendants) t2 AS d)
        SELECT p, d, count(*) AS n FROM sues
        GROUP BY p, d ORDER BY p, d""")
    }),

    "q_currency_totals" -> ((s, dir) => {
      // A8: per-currency exact-decimal totals (single-currency sum path of
      // _extract_amount_numbers_from_text, relational form).
      val li = t(s, dir, "lineitem")
      li.withColumn("currency",
          when(col("l_returnflag") === "R", "HK$")
            .when(col("l_returnflag") === "A", "USD").otherwise("$"))
        .groupBy(col("currency"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("total"),
          count(lit(1)).as("n"))
        .orderBy(col("currency"))
    }),

    "q_events_sessions" -> ((s, dir) => {
      // Window lag: per-user session count with a 1-hour inactivity gap.
      val e = t(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      e.withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            (unix_micros(col("ts").cast("timestamp")) -
              unix_micros(col("prev_ts").cast("timestamp"))) > 3600000000L, 1)
            .otherwise(0))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("new_session")).as("n_sessions"))
        .orderBy(col("user_id"))
    }),

    "q_rollup_orders" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
    }),

    // Multimodal media (rows-only check: the deterministic decode-stub fold
    // is a per-byte loop DuckDB can't express; MediaFeaturesSpec pins this
    // query's full output at sf0.001, StreamingMediaSpec each decodeStub
    // tier). Full first-class chain: corpus media spans → synthesized
    // media table → batched scan-stage feature extraction (media bytes
    // never shuffle) → image-resize geometry + per-video sampled-frame
    // counts, one row per media object. --------------------------------------
    "q_media_features" -> ((s, dir) => {
      val docs = CorpusGen.generate(s, corpusSize(dir), 32).toDF()
      val media = graft.pipeline.MediaJob.synthesizeFromDocs(s, docs)
      val feats = graft.pipeline.MediaJob.extractFeatures(s, media)
      val resized = graft.pipeline.MediaJob.resizeImages(s, feats).toDF()
        .select(col("media_ref"), col("out_w"), col("out_h"))
      val frames = graft.pipeline.MediaJob.sampleFrames(s, feats).toDF()
        .groupBy(col("media_ref")).agg(count(lit(1)).as("n_frames"))
      feats.toDF()
        .select(col("media_ref"), col("doc_id"), col("media_type"),
          col("byte_len"), col("dim1"), col("dim2"), col("dim3"))
        .join(resized, Seq("media_ref"), "left")
        .join(frames, Seq("media_ref"), "left")
        .orderBy(col("media_ref"))
    }),

    // WARC (ISO 28500) web-archive egress + ingest — the container format
    // web-scale corpora arrive in (Common Crawl). Documents are encoded as
    // per-partition .warc.gz shards (one gzip member per record, warcinfo +
    // request/response interleave, UTF-16 and chunked-transfer variants by
    // doc_id) and parsed back by the from-scratch reader; doc_id is
    // recovered from the parsed target URI, so the oracle can replay every
    // output column from `documents` alone. --------------------------------
    "q_warc_roundtrip" -> ((s, dir) =>
      graft.pipeline.WarcJob.roundTrip(s, t(s, dir, "documents"))),

    // URL canonicalization (RFC 3986 §6 + crawl conventions) as native
    // codegen'd expressions. Each doc gets a deterministically messy URL
    // (case noise, default ports, dot segments, tracking params, unsorted
    // query, percent-encoding variants, fragment) keyed on doc_id % 4;
    // Spark runs the real kernel inside whole-stage codegen while the
    // oracle states the expected canonical string per variant. -------------
    "q_url_canonicalize" -> ((s, dir) => {
      graft.plans.UrlExprs.register(s)
      import graft.plans.UrlExprs.{url_canonicalize, url_host_reversed, url_registrable_domain}
      val docs = t(s, dir, "documents")
      val v = col("doc_id") % 4
      val rawUrl = when(v === 0, concat(lit("HTTP://WWW."), upper(col("source")),
          lit("-site.COM:80/a/b/../c/./d?utm_source=feed&z=26&a=1#frag")))
        .when(v === 1, concat(lit("https://cdn."), col("source"),
          lit("-site.CO.UK/%7e"), col("lang"), lit("/%41%2f?fbclid=abc")))
        .when(v === 2, concat(lit("ftp://FILES."), col("source"), lit("-site.org:21")))
        .otherwise(concat(lit("https://"), col("source"),
          lit("-site.com.hk:8443/?b=2&b=1&a=3")))
      val host = when(v === 0, concat(lit("www."), col("source"), lit("-site.com")))
        .when(v === 1, concat(lit("cdn."), col("source"), lit("-site.co.uk")))
        .when(v === 2, concat(lit("files."), col("source"), lit("-site.org")))
        .otherwise(concat(col("source"), lit("-site.com.hk")))
      docs.select(col("doc_id"), rawUrl.as("raw"), host.as("host"))
        .select(col("doc_id"),
          url_canonicalize(col("raw")).as("url_canon"),
          url_registrable_domain(col("host")).as("site"),
          url_host_reversed(col("host")).as("host_rev"))
        .orderBy(col("doc_id"))
    }),

    // Site-level aggregation on the eTLD+1 key — the per-site operator
    // (politeness buckets, site stats, intra-site dedup scope) a web-scale
    // pipeline hangs off the registrable domain. groupBy on a codegen'd
    // native expression; count + exact char sum per site. -----------------
    "q_url_site_stats" -> ((s, dir) => {
      graft.plans.UrlExprs.register(s)
      import graft.plans.UrlExprs.url_registrable_domain
      val docs = t(s, dir, "documents")
      val v = col("doc_id") % 4
      val host = when(v === 0, concat(lit("www."), col("source"), lit("-site.com")))
        .when(v === 1, concat(lit("cdn."), col("source"), lit("-site.co.uk")))
        .when(v === 2, concat(lit("files."), col("source"), lit("-site.org")))
        .otherwise(concat(col("source"), lit("-site.com.hk")))
      docs.select(url_registrable_domain(host).as("site"), col("n_chars"))
        .groupBy(col("site"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("site"))
    }),

    // Robots-exclusion gating (RFC 9309) — the crawl-pipeline step between
    // URL canonicalization and fetch/extraction. One fixed robots.txt
    // exercising group selection (specific agent vs *), longest-match,
    // allow-on-tie, `*` wildcards, `$` anchors, and Crawl-delay; six path
    // variants land on each branch of the decision. The native
    // robots_allowed/robots_crawl_delay expressions run in whole-stage
    // codegen; the oracle states each variant's RFC-mandated verdict
    // literally. ----------------------------------------------------------
    "q_robots_filter" -> ((s, dir) => {
      graft.plans.RobotsExprs.register(s)
      import graft.plans.RobotsExprs.{robots_allowed, robots_crawl_delay}
      val docs = t(s, dir, "documents")
      val robots = lit(Seq(
        "User-agent: graftbot",
        "Disallow: /private/",
        "Allow: /private/pub*",
        "Disallow: /*.pdf$",
        "Crawl-delay: 2.5",
        "",
        "User-agent: *",
        "Disallow: /").mkString("\n"))
      val v = col("doc_id") % 6
      val path = when(v === 0, lit("/public/index.html"))
        .when(v === 1, lit("/private/data"))
        .when(v === 2, lit("/private/pubfile"))
        .when(v === 3, lit("/docs/file.pdf"))
        .when(v === 4, lit("/docs/file.pdf?x=1"))
        .otherwise(lit("/private/pub.pdf"))
      docs.select(col("doc_id"), path.as("path"))
        .select(col("doc_id"), col("path"),
          robots_allowed(robots, lit("graftbot"), col("path")).as("allowed"),
          robots_allowed(robots, lit("otherbot"), col("path")).as("allowed_other"),
          robots_crawl_delay(robots, lit("graftbot")).as("crawl_delay"),
          robots_crawl_delay(robots, lit("otherbot")).as("crawl_delay_other"))
        .orderBy(col("doc_id"))
    }),

    // Redirect-chain resolution (RFC 9110 3xx semantics) — mapping every
    // fetched URL to its landing page. A deterministic synthetic fetch log
    // (direct / 1-hop relative-Location / 2-hop with 404 landing /
    // dangling target / 2-node loop, keyed on doc_id % 5) is walked by the
    // iterative equi-join resolver with a 5-hop budget; the oracle replays
    // the walk as a recursive CTE over the same log stated literally
    // (including the RFC 3986-resolved form of the relative Locations). --
    "q_redirect_resolve" -> ((s, dir) => {
      val log = graft.pipeline.RedirectJobs.syntheticFetchLog(s, t(s, dir, "documents"))
      graft.pipeline.RedirectJobs.resolveChains(s, log, maxHops = 5)
        .orderBy(col("url"))
    }),

    // HTML main-content extraction (north rule: boilerplate strip via
    // link/text-density heuristics). Corpus docs are wrapped in the FIXED
    // chrome of HtmlJob.chromePage, so the expected outcome of the
    // WSDM-2010 word-count classifier is computable from the bare text —
    // the oracle replays the 17-word rule in SQL while Spark runs the real
    // tokenizer + classifier end-to-end. ----------------------------------
    "q_html_extract" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val out = graft.pipeline.HtmlJob
        .extractMainContent(s, graft.pipeline.HtmlJob.wrapCorpus(s, docs))
      out.toDF()
        .select(col("doc_id"), explode(col("spans")).as("sp"))
        .groupBy("doc_id")
        .agg(
          sum(when(col("sp.kind") === "text", 1L).otherwise(0L)).as("n_content"),
          sum(when(col("sp.kind") === "media", 1L).otherwise(0L)).as("n_media"),
          sum(when(col("sp.kind") === "text", length(col("sp.text")))
            .otherwise(0L)).as("content_chars"))
        .orderBy(col("doc_id"))
    }),

    // PDF layout analysis (north rule: page-block segmentation, XY-cut
    // reading order, repeated header/footer removal). The synthetic layout
    // is constructed so clean valleys make XY-cut order == word order and
    // the furniture blocks are exactly the per-page header/footer — the
    // oracle can then state the expected outcome from the bare text:
    // n_kept = word count, n_removed = 2·pages, reading text = normalized
    // text itself. Spark runs the real geometry pipeline end-to-end. ------
    "q_layout_order" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // The synthetic block table is consumed by THREE aggregations
      // (furniture bands, per-doc page counts, per-doc totals); without a
      // materialization each consumer re-runs the word explode. A real
      // deployment reads blocks from a (re-scannable, pushdown-friendly)
      // table — one cut is the synthetic stand-in's honest equivalent.
      val blocks = graft.pipeline.LayoutJob.synthesizeBlocks(s, docs)
        .transform(graft.pipeline.Materialize.cut)
      val kept = graft.pipeline.LayoutJob.removeFurniture(s, blocks)
      val ordered = graft.pipeline.LayoutJob.readingOrder(s, kept).toDF()
      val total = blocks.toDF().groupBy("doc_id").agg(count(lit(1)).as("n_total"))
      val agg = ordered.groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        md5(array_join(
          transform(
            sort_array(collect_list(struct(col("page"), col("seq"), col("text")))),
            x => x.getField("text")),
          " ")).as("reading_md5"))
      docs.select(col("doc_id").cast("long").as("doc_id"))
        .join(agg, Seq("doc_id"), "left")
        .join(total, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("n_total") - col("n_kept"), lit(0L)).as("n_removed"),
          coalesce(col("reading_md5"), md5(lit(""))).as("reading_md5"))
        .orderBy(col("doc_id"))
    }),

    // Training-data chunking + sequence packing (beyond-reference LLM
    // pipeline family). Chunking is map-only in-row array ops; packing is
    // one doc_id shuffle with streaming greedy state. Oracle notes: with
    // size=32/overlap=8 every chunk except a document's last has exactly
    // 32 tokens, and with budget=100 (3 full chunks = 96 fit, a 4th never
    // does; the short tail always fits unless it starts a fresh pack) the
    // greedy outcome reduces to pack_id = chunk_id / 3 — which DuckDB
    // states in closed form while Spark runs the real accumulator. -------
    // End-to-end training-data pipeline: Gopher quality gate → exact
    // dedup (first doc per normalized-text hash) → held-out split +
    // decontamination → chunk → pack. One summary row of stage counts,
    // observed on the pipeline's own checkpoints (see trainingPipeline);
    // every count is replayed by the composed DuckDB oracle. ------------
    "q_training_pipeline" -> ((s, dir) => trainingPipeline(s, dir, nearDup = false)),

    // Flagship pipeline with NEAR-DUP dedup (round-4 verdict #1): the
    // q_training_pipeline stages with one more between exact dedup and the
    // split — minhash-LSH verified pairs at jaccard >= 0.9 over the
    // exact-dedup survivors, connected components over the pair graph, and
    // keep-the-canonical-doc per near-dup cluster (production corpora
    // dedup fuzzily — the Gopher/GPT-3 lineage the quality gate already
    // cites). Same summary row plus n_neardup; the composed DuckDB oracle
    // splices the minhash-verified + CC oracles into the training-pipeline
    // oracle. -------------------------------------------------------------
    "q_training_pipeline_neardup" -> ((s, dir) => trainingPipeline(s, dir, nearDup = true)),

    // Test-set decontamination (GPT-3-style n-gram overlap): in-row
    // distinct shingles, DF-capped equi-join — skew bounded by maxDf. ----
    "q_decontaminate" -> ((s, dir) => {
      graft.pipeline.Decontaminate
        .contaminated(t(s, dir, "documents"), k = 4, testMod = 97L, maxDf = 50L)
        .orderBy(col("doc_id"))
    }),

    // Removal audit (round-4 verdict #7): per (contaminated doc, test doc)
    // pair — shared-shingle count + a reproducible example shingle — so an
    // operator can audit which test document caused each removal. ---------
    "q_decontaminate_audit" -> ((s, dir) => {
      graft.pipeline.Decontaminate
        .contaminationAudit(t(s, dir, "documents"), k = 4, testMod = 97L, maxDf = 50L)
        .orderBy(col("doc_id"), col("test_doc_id"))
    }),

    // Gopher-rule quality filtering (Rae et al. 2021 A1.1): per-row
    // native expressions only; the oracle replays the identical
    // arithmetic in DuckDB (replace-length symbol counts, list_filter
    // alpha words, distinct stopword intersection). ----------------------
    "q_quality_gopher" -> ((s, dir) => {
      graft.pipeline.QualityFilters.gopherSignals(t(s, dir, "documents"))
        .select(col("doc_id"), col("word_count"), col("mean_word_len"),
          col("symbol_word_ratio"), col("alpha_word_ratio"),
          col("n_stopwords"), col("passes"))
        .orderBy(col("doc_id"))
    }),

    // Gopher repetition rules: duplicate-line fraction (in-row) and the
    // most-frequent word 2-gram's character coverage (one doc_id-keyed
    // groupBy + window, deterministic lexicographic tie-break). ----------
    "q_quality_repetition" -> ((s, dir) => {
      graft.pipeline.QualityFilters.repetitionSignals(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    "q_chunks" -> ((s, dir) => {
      val c = graft.pipeline.ChunkJobs.chunk(t(s, dir, "documents"), 32, 8)
      c.select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          md5(col("text")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    "q_chunk_pack" -> ((s, dir) => {
      import s.implicits._
      val c = graft.pipeline.ChunkJobs.chunk(t(s, dir, "documents"), 32, 8)
        .as[graft.pipeline.Chunk]
      graft.pipeline.ChunkJobs.pack(s, c, 100).toDF()
        .select(col("doc_id"), col("pack_id").cast("long").as("pack_id"),
          col("n_chunks").cast("long").as("n_chunks"),
          col("n_tokens").cast("long").as("n_tokens"))
        .orderBy(col("doc_id"), col("pack_id"))
    }),

    // Web link graph — outlink extraction over synthetic pages with a
    // known link structure (GraphJobs.linkedPage): the real anchor
    // scanner + RFC 3986 §5.2 resolver + canonicalizer run end-to-end
    // (relative <base href>, dot-segment merges, entity-encoded queries,
    // protocol-relative refs, nofollow, scheme filtering); the oracle
    // states each kept link literally. -------------------------------------
    "q_link_extract" -> ((s, dir) => {
      val pages = graft.pipeline.GraphJobs.wrapCorpusLinked(s, t(s, dir, "documents"))
      graft.pipeline.GraphJobs.extractLinks(s, pages).toDF()
        .select(col("doc_id"), col("pos"), col("dst_url"), col("anchor"),
          col("nofollow"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // Host-level web graph: eTLD+1 aggregation of the extracted links
    // (follow links only, self-site edges dropped) — the edge table link
    // analysis runs on. --------------------------------------------------
    "q_host_graph" -> ((s, dir) => {
      val pages = graft.pipeline.GraphJobs.wrapCorpusLinked(s, t(s, dir, "documents"))
      val links = graft.pipeline.GraphJobs.extractLinks(s, pages).toDF()
      graft.pipeline.GraphJobs.hostGraph(links)
        .orderBy(col("src_site"), col("dst_site"))
    }),

    // PageRank (Brin & Page 1998) over the host graph: 4 damped
    // iterations with dangling-mass redistribution, d = 0.85. Ranks are
    // reported in parts-per-million (round(rank·1e6)) so the oracle —
    // which replays the exact iteration arithmetic as unrolled SQL — is
    // robust to FP summation-order noise far below the ppm scale. --------
    "q_pagerank" -> ((s, dir) => {
      val pages = graft.pipeline.GraphJobs.wrapCorpusLinked(s, t(s, dir, "documents"))
      val links = graft.pipeline.GraphJobs.extractLinks(s, pages).toDF()
      val edges = graft.pipeline.GraphJobs.hostGraph(links)
        .select(col("src_site").as("src"), col("dst_site").as("dst"), col("weight"))
      graft.pipeline.GraphJobs.pageRank(edges, 4, 0.85)
        .select(col("site"),
          round(col("rank") * lit(1000000L)).cast("long").as("rank_ppm"))
        .orderBy(col("site"))
    }),

    // Anchor-text aggregation: top-2 anchor strings per destination site
    // (count desc, text asc) — the anchor corpus operator. ---------------
    "q_anchor_stats" -> ((s, dir) => {
      val pages = graft.pipeline.GraphJobs.wrapCorpusLinked(s, t(s, dir, "documents"))
      val links = graft.pipeline.GraphJobs.extractLinks(s, pages).toDF()
      graft.pipeline.GraphJobs.anchorTopK(links, 2)
        .select(col("dst_site"), col("anchor"), col("n"), col("rk"))
        .orderBy(col("dst_site"), col("rk"))
    }),

    // CCNet-style line-level dedup: corpus docs are wrapped with known
    // boilerplate lines (fixed banners + a per-source line); the engine
    // discovers and strips every line whose normalized form appears in
    // >= 5 distinct docs, and the oracle replays the same discovery in
    // SQL (split -> normalize -> distinct-doc count -> filter ->
    // order-preserving reassembly). --------------------------------------
    "q_line_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val wrapped = docs.select(col("doc_id"),
        concat_ws("\n",
          lit("(c) Graft Portal - all rights reserved."),
          coalesce(col("text"), lit("")),
          lit("Subscribe to our newsletter!"),
          concat(lit("From the "), col("source"), lit(" newsroom"))).as("text"))
      graft.pipeline.LineDedup.dedupLines(wrapped, 5)
        .select(col("doc_id"), col("n_kept"), col("n_removed"),
          md5(col("text_clean")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // Charset sniff + transcode round trip: each doc's text is garnished
    // (so the wide/1252 variants contain non-ASCII) and ENCODED in an
    // encoding chosen by doc_id % 4; the engine must detect the encoding
    // from the bytes alone and decode back to the exact original string.
    // The oracle derives the expected label from the doc_id arithmetic
    // and the original text in SQL — decode(encode(x)) == x via md5. ----
    "q_charset_sniff" -> ((s, dir) => {
      graft.plans.CharsetExprs.register(s)
      val docs = t(s, dir, "documents")
      val orig = when(col("doc_id") % 4 === 0, concat(col("text"), lit(" — № café ™")))
        .when(col("doc_id") % 4 === 1, concat(col("text"), lit(" • wide text")))
        .when(col("doc_id") % 4 === 2, concat(col("text"), lit(" café ± naïve")))
        .otherwise(col("text"))
      val label = element_at(
        array(lit("utf-8"), lit("utf-16le"), lit("windows-1252"), lit("ascii")),
        (col("doc_id") % 4 + 1).cast("int"))
      docs.select(col("doc_id"),
          call_function("charset_encode", orig, label).as("bytes"))
        .select(col("doc_id"),
          call_function("charset_sniff", col("bytes")).as("charset"),
          md5(call_function("charset_decode", col("bytes"))).as("md5_text"))
        .orderBy(col("doc_id"))
    }),

    // Mojibake repair: mangle each garnished doc the canonical way (its
    // UTF-8 bytes re-decoded as windows-1252 — "café" → "cafÃ©"), then
    // repair with fix_mojibake; the oracle pins fixed == original (md5
    // from SQL) and that exactly the non-ASCII-garnished docs changed. --
    "q_mojibake_fix" -> ((s, dir) => {
      graft.plans.CharsetExprs.register(s)
      val docs = t(s, dir, "documents")
      val orig = when(col("doc_id") % 2 === 0, concat(col("text"), lit(" — № café ™")))
        .otherwise(col("text"))
      val mangled = call_function("charset_decode_as",
        call_function("charset_encode", orig, lit("utf-8")), lit("windows-1252"))
      docs.select(col("doc_id"), orig.as("orig"), mangled.as("mangled"))
        .select(col("doc_id"),
          (col("mangled") =!= col("orig")).as("was_mangled"),
          md5(call_function("fix_mojibake", col("mangled"))).as("md5_fixed"))
        .orderBy(col("doc_id"))
    }),

    // PII scrub: every doc gets an injected email; every 2nd a NANP
    // phone; every 3rd an IPv4; cards rotate {valid, Luhn-invalid,
    // grouped valid, none} by doc_id % 4. Counts per class ride Spark
    // builtins (regexp_extract_all + luhn_check); the redaction md5
    // pins the typed-placeholder rewrite; the oracle replays the same
    // patterns, the Luhn checksum, and the same replace chain. ---------
    "q_pii_stats" -> ((s, dir) => {
      graft.plans.PiiExprs.register(s)
      val docs = t(s, dir, "documents")
      val cardLit = element_at(array(
        lit("4111111111111111"), lit("4111111111111112"),
        lit("5500 0055 5555 5559"), lit(null).cast("string")),
        (col("doc_id") % 4 + 1).cast("int"))
      val pii = concat_ws(" ",
        concat(lit("reach user"), col("doc_id").cast("string"), lit("@example.com")),
        when(col("doc_id") % 2 === 0,
          concat(lit("call 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(null).cast("string")),
        when(col("doc_id") % 3 === 0,
          concat(lit("from 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), ((col("doc_id") * 7) % 256).cast("string")))
          .otherwise(lit(null).cast("string")),
        cardLit)
      val wrapped = docs.select(col("doc_id"),
        concat(col("text"), lit("\n"), pii).as("t2"))
      // ONE fused kernel pass for counts + Luhn + redaction
      // (graft.plans.PiiExprs.statsU, same compiled PiiOps patterns): the
      // composed form materialized a match array per pattern just to
      // size() it and ran an interpreted filter lambda (regexp_replace +
      // luhn_check per card). Differential-pinned in PiiSpec; the oracle
      // replays the identical counts/md5 in DuckDB.
      wrapped.select(col("doc_id"), call_function("pii_stats", col("t2")).as("ps"))
        .select(col("doc_id"),
          col("ps.n_email").as("n_email"),
          col("ps.n_phone").as("n_phone"),
          col("ps.n_ip").as("n_ip"),
          col("ps.n_card").as("n_card"),
          col("ps.n_card_valid").as("n_card_valid"),
          md5(col("ps.redacted")).as("md5_redacted"))
        .orderBy(col("doc_id"))
    }),

    // CCNet-style perplexity bucketing: per-language char-trigram add-1/2
    // LM trained on the corpus, each doc scored by exact integer-scaled
    // log-probs, terciled head/middle/tail per language. The oracle
    // replays train + score + bucket end to end in SQL. ------------------
    "q_lm_quality" -> ((s, dir) =>
      graft.pipeline.LmQuality.perplexityBuckets(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // Exact-substring dedup (Lee et al. 2022): every 50-char window
    // occurring verbatim in >= 2 distinct docs is removed from all of
    // them; the oracle replays window extraction, cross-doc counting,
    // and the per-char complement mask in SQL. The synthetic corpus has
    // a natural ~9 % duplicated-window rate, so the op does real work. -
    "q_dedup_substr" -> ((s, dir) =>
      graft.pipeline.SubstrDedup.audit(t(s, dir, "documents"), 50)
        .orderBy(col("doc_id"))),

    // Office-document extraction: the corpus is wrapped into real ZIP
    // containers — even doc_ids as DOCX (WordprocessingML), odd as ODT
    // (OpenDocument) — with a garnish line exercising XML entities and
    // tabs; the engine must identify the container and extract the text
    // back byte-exactly. Oracle: kind from the doc_id rule, md5 of the
    // pre-encode text from SQL. ------------------------------------------
    "q_office_text" -> ((s, dir) => {
      graft.plans.OfficeExprs.register(s)
      val docs = t(s, dir, "documents")
      val orig = concat(coalesce(col("text"), lit("")),
        lit("\nmeta & <tags>\tend 'q' \"z\""))
      val wrapped = graft.pipeline.OfficeText.wrapCorpus(s,
        docs.select(col("doc_id"), orig.as("text")))
      wrapped.select(col("doc_id"),
          call_function("office_kind", col("bytes")).as("kind"),
          md5(call_function("office_text", col("bytes"))).as("md5_text"))
        .orderBy(col("doc_id"))
    }),

    // Unicode normalization: the corpus is garnished with decomposed /
    // precomposed / compat sequences by a doc_id % 4 rule; the engine
    // normalizes (NFC) and folds to the accent/case-insensitive dedup
    // key; DuckDB re-derives both from the same rule with its own
    // utf8proc implementation — two independent UAX #15 implementations
    // must agree byte-for-byte. --------------------------------------------
    "q_unicode_norm" -> ((s, dir) => {
      graft.plans.UnicodeNorm.register(s)
      val docs = t(s, dir, "documents")
      // DECOMPOSED garnish on the engine side vs PRECOMPOSED in the
      // oracle: only a correct NFC composition makes the hashes meet
      // (U+2126 OHM SIGN canonically maps to U+03A9 GREEK OMEGA).
      val g = concat(coalesce(col("text"), lit("")),
        when(pmod(col("doc_id"), lit(4)) === 0, lit(" cafe\u0301"))
          .when(pmod(col("doc_id"), lit(4)) === 1, lit(" A\u030Angstrom"))
          .when(pmod(col("doc_id"), lit(4)) === 2, lit(" \u2126resistance"))
          .otherwise(lit(" E\u0301n\u0303QUOTA")))
      docs.select(col("doc_id"),
          md5(call_function("unicode_norm", g, lit("NFC"))).as("md5_nfc"),
          md5(call_function("norm_key", g)).as("md5_key"))
        .orderBy(col("doc_id"))
    }),

    // RTF extraction: the corpus as real RTF control-word streams with
    // a garnish exercising escapes, tabs, and \uN unicode (é, 中);
    // kind + decode(encode(x)) == x, oracle-derived from the rule. -----
    "q_rtf_text" -> ((s, dir) => {
      graft.plans.OfficeExprs.register(s)
      val docs = t(s, dir, "documents")
      val orig = concat(coalesce(col("text"), lit("")),
        lit("\nRTF & {braces} \\ tab\t \u00e9\u4e2d"))
      val wrapped = graft.pipeline.RtfText.wrapCorpus(s,
        docs.select(col("doc_id"), orig.as("text")))
      wrapped.select(col("doc_id"),
          call_function("office_kind", col("bytes")).as("kind"),
          md5(call_function("office_text", col("bytes"))).as("md5_text"))
        .orderBy(col("doc_id"))
    }),

    // Feed/sitemap discovery: one real RSS / Atom / sitemap document per
    // doc_id (doc_id % 3 rule), three entries each; the engine sniffs the
    // kind and parses the entry list back (CDATA titles in RSS, escaped
    // titles + href links in Atom, loc/lastmod in sitemaps); the oracle
    // re-derives every field from the rule. ---------------------------------
    "q_feed_entries" -> ((s, dir) => {
      graft.plans.FeedExprs.register(s)
      val feeds = graft.pipeline.FeedText.wrapCorpus(s, t(s, dir, "documents"))
      feeds.select(col("doc_id"),
          call_function("feed_kind", col("xml")).as("kind"),
          explode(call_function("feed_entries", col("xml"))).as("e"))
        .select(col("doc_id"), col("kind"),
          col("e.title").as("title"), col("e.link").as("link"),
          col("e.ts").as("ts"))
        .orderBy(col("doc_id"), col("link"))
    }),

    // Extraction engine (rows-only check — the golden suite is the real
    // correctness gate for these; see GoldenExtractionSpec) ----------------
    "q_extract_records" -> ((s, dir) => {
      val docs = CorpusGen.generate(s, corpusSize(dir), 32)
      ExtractJob.extractRecords(s, docs, 32).toDF()
        .select(col("doc_id"), col("case_number"), col("plaintiff"),
          col("defendant"), col("judge"), col("language"), col("document_type"))
        .orderBy(col("doc_id"))
    }),

    "q_extract_spans" -> ((s, dir) => {
      val docs = CorpusGen.generate(s, corpusSize(dir), 32)
      ExtractJob.extractOutSpans(s, docs, 32).toDF()
        .select(col("doc_id"), explode(col("spans")).as("span"))
        .select(col("doc_id"), col("span.kind"), col("span.media_ref"),
          col("span.offset"), length(col("span.text")).as("text_len"))
        .orderBy(col("doc_id"), col("offset"))
    }),

    "q_extract_report" -> ((s, dir) => {
      val docs = CorpusGen.generate(s, corpusSize(dir), 32)
      val records = ExtractJob.extractRecords(s, docs, 32).toDF()
      ReportJob.fieldCompleteness(records, ReportJob.reportFields)
    })
  )

  // ------------------------------------------------------------- oracleSql

  /** The ±1 hyperplane matrix of q_ann_hyperplane_quantized rendered as a
    * DuckDB bucket expression — the SAME AnnJobs.hyperplanes(64, 8, 7)
    * matrix the Spark entry uses, so engine and oracle share one seed. */
  private def hyperplaneSqlBucket: String =
    graft.pipeline.AnnJobs.hyperplanes(64, 8, 7L).zipWithIndex.map {
      case (p, i) =>
        val arr = p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
        s"CASE WHEN list_dot_product(emb, $arr) > 0 THEN ${1 << i} ELSE 0 END"
    }.mkString(" +\n        |     ")

  def oracleSql: Map[String, String] = Map(
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_lang_dist" ->
      "SELECT lang, count(*) AS n FROM documents GROUP BY 1 ORDER BY lang",

    "q_source_dist" ->
      "SELECT source, count(*) AS n FROM documents GROUP BY 1 ORDER BY source",

    // DuckDB types a bare integer SUM as HUGEINT, which pandas widens to
    // float64 and the driver's value hash then differs from Spark's BIGINT
    // on formatting alone — hence the explicit BIGINT casts here.
    "q_doc_completeness" ->
      """SELECT count(*) AS total,
        |  CAST(sum(CASE WHEN trim(coalesce(text, '')) <> '' THEN 1 ELSE 0 END) AS BIGINT) AS text_complete,
        |  CAST(sum(CASE WHEN trim(coalesce(lang, '')) <> '' THEN 1 ELSE 0 END) AS BIGINT) AS lang_complete,
        |  CAST(sum(CASE WHEN trim(coalesce(source, '')) <> '' THEN 1 ELSE 0 END) AS BIGINT) AS source_complete
        |FROM documents""".stripMargin,

    // complete/missing/percentage per field, src/processor.py:229-240
    "q_completeness_long" ->
      """WITH wide AS (
        |  SELECT count(*) AS total,
        |    CAST(sum(CASE WHEN trim(coalesce(text, '')) <> '' THEN 1 ELSE 0 END) AS BIGINT) AS text,
        |    CAST(sum(CASE WHEN trim(coalesce(lang, '')) <> '' THEN 1 ELSE 0 END) AS BIGINT) AS lang,
        |    CAST(sum(CASE WHEN trim(coalesce(source, '')) <> '' THEN 1 ELSE 0 END) AS BIGINT) AS source
        |  FROM documents),
        |long AS (
        |  SELECT 'text' AS field, text AS complete, total FROM wide
        |  UNION ALL SELECT 'lang', lang, total FROM wide
        |  UNION ALL SELECT 'source', source, total FROM wide)
        |SELECT field, complete, total - complete AS missing,
        |       CASE WHEN total > 0
        |            THEN CAST(complete AS DOUBLE) / total * 100.0
        |            ELSE 0.0 END AS percentage
        |FROM long ORDER BY field""".stripMargin,

    // 50-char truncation + blank/'unknown' exclusion per src/processor.py:207-211
    "q_court_dist" ->
      """WITH courts AS (
        |  SELECT CASE WHEN doc_id % 7 = 0 THEN 'unknown'
        |              ELSE concat(source, '_', lang, '_',
        |                          repeat('x', CAST(doc_id % 4 AS INT) * 20)) END AS court_name
        |  FROM documents)
        |SELECT CASE WHEN length(court_name) > 50
        |            THEN concat(substr(court_name, 1, 50), '...')
        |            ELSE court_name END AS court,
        |       count(*) AS count
        |FROM courts
        |WHERE court_name IS NOT NULL AND court_name <> '' AND court_name <> 'unknown'
        |GROUP BY 1 ORDER BY court""".stripMargin,

    // 3-bucket keyword classification per src/processor.py:213-221
    "q_casetype_dist" ->
      """WITH ct AS (
        |  SELECT CASE WHEN doc_id % 7 = 0 THEN 'unknown'
        |              WHEN doc_id % 3 = 0 THEN 'Type Application'
        |              WHEN doc_id % 3 = 1 THEN 'Debt Action'
        |              ELSE 'Misc Proceedings' END AS case_type
        |  FROM documents)
        |SELECT CASE WHEN lower(case_type) LIKE '%application%' THEN 'Application'
        |            WHEN lower(case_type) LIKE '%action%' THEN 'Action'
        |            ELSE 'Other' END AS bucket,
        |       count(*) AS count
        |FROM ct
        |WHERE case_type IS NOT NULL AND case_type <> '' AND case_type <> 'unknown'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_customers_no_orders" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q_revenue_by_segment" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_merge_dedupe" ->
      """WITH set1 AS (
        |  SELECT doc_id, source FROM documents WHERE doc_id < 300),
        |set2 AS (
        |  SELECT doc_id, concat(source, '_v2') AS source FROM documents WHERE doc_id >= 200)
        |SELECT doc_id, source FROM set1
        |UNION ALL
        |SELECT doc_id, source FROM set2 s
        |WHERE NOT EXISTS (SELECT 1 FROM set1 f WHERE f.doc_id = s.doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_top_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q_similar_docs" ->
      """WITH a AS (SELECT doc_id AS a_id, lang AS a_lang, source AS a_source, n_chars AS a_n
        |           FROM documents WHERE doc_id < 50),
        |b AS (SELECT doc_id AS b_id, lang AS b_lang, source AS b_source, n_chars AS b_n
        |      FROM documents),
        |scored AS (
        |  SELECT a_id, b_id,
        |    (CASE WHEN a_lang = b_lang THEN CAST(0.5 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END +
        |     CASE WHEN a_source = b_source THEN CAST(0.3 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END +
        |     CASE WHEN abs(a_n - b_n) < 100 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
        |    AS similarity
        |  FROM a JOIN b ON a_id <> b_id),
        |ranked AS (
        |  SELECT a_id, b_id, similarity,
        |    row_number() OVER (PARTITION BY a_id ORDER BY similarity DESC, b_id) AS rn
        |  FROM scored WHERE similarity >= 0.5)
        |SELECT a_id, b_id, similarity, rn FROM ranked WHERE rn <= 5
        |ORDER BY a_id, rn""".stripMargin,

    "q_dedup_exact" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0)
        |SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
        |       count(*) AS dup_count, min(doc_id) AS keep_id
        |FROM all_docs GROUP BY 1 HAVING count(*) > 1
        |ORDER BY fp""".stripMargin,

    "q_dedup_minhash" ->
      """WITH tokens AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM documents),
        |sigs AS (
        |  SELECT doc_id,
        |         min(md5(concat('0#', tok))) AS h0,
        |         min(md5(concat('1#', tok))) AS h1,
        |         min(md5(concat('2#', tok))) AS h2,
        |         min(md5(concat('3#', tok))) AS h3
        |  FROM tokens GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, md5(concat(h0, h1)) AS b0, md5(concat(h2, h3)) AS b1 FROM sigs),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.b0 = b.b0 AND a.doc_id < b.doc_id
        |  UNION
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.b1 = b.b1 AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b FROM pairs WHERE doc_a < 25 ORDER BY doc_a, doc_b""".stripMargin,

    // Mirrors DedupJobs.minhashVerified(numHashes=8, bands=4, bucketCap=200,
    // jaccardThreshold=0.5): banded-LSH candidates (hot buckets dropped),
    // then exact Jaccard over distinct token sets.
    "q_dedup_minhash_verified" ->
      """WITH tokens AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM documents),
        |sigs AS (
        |  SELECT doc_id,
        |         min(md5(concat('0#', tok))) AS h0, min(md5(concat('1#', tok))) AS h1,
        |         min(md5(concat('2#', tok))) AS h2, min(md5(concat('3#', tok))) AS h3,
        |         min(md5(concat('4#', tok))) AS h4, min(md5(concat('5#', tok))) AS h5,
        |         min(md5(concat('6#', tok))) AS h6, min(md5(concat('7#', tok))) AS h7
        |  FROM tokens GROUP BY doc_id),
        |bandrows AS (
        |  SELECT doc_id, 0 AS bi, md5(concat(h0, h1)) AS bh FROM sigs
        |  UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM sigs
        |  UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM sigs
        |  UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM sigs),
        |bsizes AS (SELECT bi, bh, count(*) AS n FROM bandrows GROUP BY 1, 2),
        |kept AS (SELECT br.* FROM bandrows br JOIN bsizes s USING (bi, bh) WHERE s.n <= 200),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM kept a JOIN kept b ON a.bi = b.bi AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |tokset AS (SELECT DISTINCT doc_id, tok FROM tokens),
        |tsizes AS (SELECT doc_id, count(*) AS n FROM tokset GROUP BY 1),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS inter
        |  FROM cand c
        |  JOIN tokset a ON a.doc_id = c.doc_a
        |  JOIN tokset b ON b.doc_id = c.doc_b AND b.tok = a.tok
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b,
        |       CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) AS jaccard
        |FROM inter i
        |JOIN tsizes sa ON sa.doc_id = i.doc_a
        |JOIN tsizes sb ON sb.doc_id = i.doc_b
        |WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Mirrors q_dedup_incremental: the engine builds the corpus signature
    // index once and probes the shifted doc_id%7==3 snapshot against it;
    // the declared semantics are "a batch minhashVerified(8,4,200,0.5) over
    // corpus ∪ snapshot, restricted to cross pairs" — which is what this
    // replays (bucket sizes over the UNION = the engine's index-count +
    // new-count combined cap).
    "q_dedup_incremental" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 3),
        |tokens AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM all_docs),
        |sigs AS (
        |  SELECT doc_id,
        |         min(md5(concat('0#', tok))) AS h0, min(md5(concat('1#', tok))) AS h1,
        |         min(md5(concat('2#', tok))) AS h2, min(md5(concat('3#', tok))) AS h3,
        |         min(md5(concat('4#', tok))) AS h4, min(md5(concat('5#', tok))) AS h5,
        |         min(md5(concat('6#', tok))) AS h6, min(md5(concat('7#', tok))) AS h7
        |  FROM tokens GROUP BY doc_id),
        |bandrows AS (
        |  SELECT doc_id, 0 AS bi, md5(concat(h0, h1)) AS bh FROM sigs
        |  UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM sigs
        |  UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM sigs
        |  UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM sigs),
        |bsizes AS (SELECT bi, bh, count(*) AS n FROM bandrows GROUP BY 1, 2),
        |kept AS (SELECT br.* FROM bandrows br JOIN bsizes s USING (bi, bh) WHERE s.n <= 200),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM kept a JOIN kept b ON a.bi = b.bi AND a.bh = b.bh
        |  WHERE a.doc_id < 1000000 AND b.doc_id >= 1000000),
        |tokset AS (SELECT DISTINCT doc_id, tok FROM tokens),
        |tsizes AS (SELECT doc_id, count(*) AS n FROM tokset GROUP BY 1),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS inter
        |  FROM cand c
        |  JOIN tokset a ON a.doc_id = c.doc_a
        |  JOIN tokset b ON b.doc_id = c.doc_b AND b.tok = a.tok
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b,
        |       CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) AS jaccard
        |FROM inter i
        |JOIN tsizes sa ON sa.doc_id = i.doc_a
        |JOIN tsizes sb ON sb.doc_id = i.doc_b
        |WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Mirrors q_dedup_components: minhashVerified(8, 4, 200, 0.9) pairs,
    // then connected components as a recursive reachability closure —
    // component = min reachable doc_id (DuckDB's UNION-dedup recursion
    // terminates because the reachable-pairs set is finite).
    "q_dedup_components" ->
      """WITH RECURSIVE tokens AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM documents),
        |sigs AS (
        |  SELECT doc_id,
        |         min(md5(concat('0#', tok))) AS h0, min(md5(concat('1#', tok))) AS h1,
        |         min(md5(concat('2#', tok))) AS h2, min(md5(concat('3#', tok))) AS h3,
        |         min(md5(concat('4#', tok))) AS h4, min(md5(concat('5#', tok))) AS h5,
        |         min(md5(concat('6#', tok))) AS h6, min(md5(concat('7#', tok))) AS h7
        |  FROM tokens GROUP BY doc_id),
        |bandrows AS (
        |  SELECT doc_id, 0 AS bi, md5(concat(h0, h1)) AS bh FROM sigs
        |  UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM sigs
        |  UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM sigs
        |  UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM sigs),
        |bsizes AS (SELECT bi, bh, count(*) AS n FROM bandrows GROUP BY 1, 2),
        |kept AS (SELECT br.* FROM bandrows br JOIN bsizes s USING (bi, bh) WHERE s.n <= 200),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM kept a JOIN kept b ON a.bi = b.bi AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |tokset AS (SELECT DISTINCT doc_id, tok FROM tokens),
        |tsizes AS (SELECT doc_id, count(*) AS n FROM tokset GROUP BY 1),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS inter
        |  FROM cand c
        |  JOIN tokset a ON a.doc_id = c.doc_a
        |  JOIN tokset b ON b.doc_id = c.doc_b AND b.tok = a.tok
        |  GROUP BY 1, 2),
        |verified AS (
        |  SELECT i.doc_a, i.doc_b
        |  FROM inter i
        |  JOIN tsizes sa ON sa.doc_id = i.doc_a
        |  JOIN tsizes sb ON sb.doc_id = i.doc_b
        |  WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= 0.9),
        |sym AS (
        |  SELECT doc_a AS a, doc_b AS b FROM verified
        |  UNION SELECT doc_b, doc_a FROM verified),
        |reach AS (
        |  SELECT a AS id, a AS r FROM sym
        |  UNION
        |  SELECT w.id, s.b FROM reach w JOIN sym s ON s.a = w.r),
        |comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY 1)
        |SELECT c.doc_id, c.component, s.cluster_size,
        |       CAST(CASE WHEN c.doc_id = c.component THEN 1 ELSE 0 END AS INT) AS is_canonical
        |FROM comp c
        |JOIN (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1) s
        |  USING (component)
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_simhash" ->
      """WITH tokens AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM documents),
        |bits AS (SELECT unnest(range(0, 16)) AS b),
        |contrib AS (
        |  SELECT doc_id, b,
        |         CASE WHEN substr(md5(concat(CAST(b AS VARCHAR), '#', tok)), 1, 1) >= '8'
        |              THEN 1 ELSE -1 END AS c
        |  FROM tokens CROSS JOIN bits),
        |simbits AS (
        |  SELECT doc_id, b, CASE WHEN sum(c) >= 0 THEN 1 ELSE 0 END AS bit
        |  FROM contrib GROUP BY doc_id, b)
        |SELECT doc_id, CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS simhash
        |FROM simbits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_dedup_ngram" ->
      """WITH norm AS (
        |  SELECT doc_id, lang, lower(regexp_replace(text, '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |tri AS (
        |  SELECT DISTINCT doc_id, lang, substr(nt, CAST(i AS INT), 3) AS g
        |  FROM norm, unnest(range(1, CAST(greatest(length(nt) - 2, 1) AS BIGINT) + 1)) AS t(i)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM tri a JOIN tri b ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE a.doc_id < 30
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b,
        |       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) > 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Mirrors DedupJobs.ngramJaccardCapped(n=3, dfCap=50, threshold=0.6):
    // Jaccard over the capped distinct-trigram sets, full corpus.
    "q_dedup_ngram_capped" ->
      """WITH norm AS (
        |  SELECT doc_id, lang, lower(regexp_replace(text, '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |tri AS (
        |  SELECT DISTINCT doc_id, lang, substr(nt, CAST(i AS INT), 3) AS g
        |  FROM norm, unnest(range(1, CAST(greatest(length(nt) - 2, 1) AS BIGINT) + 1)) AS t(i)),
        |dfreq AS (SELECT lang, g, count(*) AS df FROM tri GROUP BY 1, 2),
        |kept AS (SELECT tri.* FROM tri JOIN dfreq USING (lang, g) WHERE dfreq.df <= 50),
        |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) > 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q_dedup_embedding" ->
      """WITH withb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END +
        |     CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END +
        |     CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END +
        |     CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END +
        |     CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END +
        |     CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END +
        |     CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END +
        |     CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(a.emb, b.emb), 4) AS cos_sim
        |FROM withb a JOIN withb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.emb, b.emb), 4) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    "q_ann_cosine" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_emb FROM embeddings),
        |scored AS (
        |  SELECT q_id, n_id,
        |         round(list_cosine_similarity(q_emb, n_emb), 4) AS sim
        |  FROM q JOIN c ON q_id <> n_id),
        |ranked AS (
        |  SELECT q_id, n_id, sim,
        |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
        |  FROM scored)
        |SELECT q_id, n_id, sim, rn FROM ranked WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin,

    "q_ann_lsh_bucket" ->
      """SELECT bucket, count(*) AS n, min(vec_id) AS rep FROM (
        |  SELECT vec_id,
        |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END +
        |     CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END +
        |     CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END +
        |     CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END +
        |     CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END +
        |     CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END +
        |     CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END +
        |     CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
        |  FROM embeddings) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ann_lsh_topk" ->
      """WITH withb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END +
        |     CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END +
        |     CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END +
        |     CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END +
        |     CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END +
        |     CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END +
        |     CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END +
        |     CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS q_emb, bucket FROM withb WHERE vec_id < 10),
        |c AS (SELECT vec_id AS n_id, emb AS n_emb, bucket FROM withb),
        |scored AS (
        |  SELECT q_id, q.bucket AS bucket, n_id,
        |         round(list_cosine_similarity(q_emb, n_emb), 4) AS sim
        |  FROM q JOIN c ON q.bucket = c.bucket AND q_id <> n_id),
        |ranked AS (
        |  SELECT q_id, bucket, n_id, sim,
        |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
        |  FROM scored)
        |SELECT q_id, bucket, n_id, sim, rn FROM ranked WHERE rn <= 3
        |ORDER BY q_id, rn""".stripMargin,

    // Mirrors AnnJobs.quantizedTopK: int8 max-abs quantize → dequantize →
    // brute-force cosine top-5 (same 4dp rounding / id tiebreak as
    // q_ann_cosine). round(x*127/maxabs)*maxabs/127 is written with the
    // identical operation order on both engines.
    "q_ann_quantized" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS maxabs
        |  FROM embeddings),
        |deq AS (
        |  SELECT vec_id,
        |         CASE WHEN maxabs = 0
        |              THEN list_transform(emb, x -> CAST(0.0 AS DOUBLE))
        |              ELSE list_transform(emb, x -> round(x * 127.0 / maxabs) * maxabs / 127.0)
        |         END AS demb
        |  FROM base),
        |q AS (SELECT vec_id AS q_id, demb AS q_emb FROM deq WHERE vec_id < 10),
        |c AS (SELECT vec_id AS n_id, demb AS n_emb FROM deq),
        |scored AS (
        |  SELECT q_id, n_id,
        |         round(list_cosine_similarity(q_emb, n_emb), 4) AS sim
        |  FROM q JOIN c ON q_id <> n_id),
        |ranked AS (
        |  SELECT q_id, n_id, sim,
        |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
        |  FROM scored)
        |SELECT q_id, n_id, sim, rn FROM ranked WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin,

    // Mirrors AnnJobs.lshQuantizedTopK: sign-LSH bucket on the ORIGINAL
    // vector (same keying as q_ann_lsh_topk), int8 quantize→dequantize of
    // the candidate payload (same formulation as q_ann_quantized), exact
    // cosine top-3 within the bucket.
    "q_ann_lsh_quantized" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END +
        |     CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END +
        |     CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END +
        |     CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END +
        |     CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END +
        |     CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END +
        |     CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END +
        |     CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket,
        |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS maxabs
        |  FROM embeddings),
        |deq AS (
        |  SELECT vec_id, bucket,
        |         CASE WHEN maxabs = 0
        |              THEN list_transform(emb, x -> CAST(0.0 AS DOUBLE))
        |              ELSE list_transform(emb, x -> round(x * 127.0 / maxabs) * maxabs / 127.0)
        |         END AS demb
        |  FROM base),
        |q AS (SELECT vec_id AS q_id, bucket, demb AS q_emb FROM deq WHERE vec_id < 10),
        |c AS (SELECT vec_id AS n_id, bucket, demb AS n_emb FROM deq),
        |scored AS (
        |  SELECT q_id, q.bucket AS bucket, n_id,
        |         round(list_cosine_similarity(q_emb, n_emb), 4) AS sim
        |  FROM q JOIN c ON q.bucket = c.bucket AND q_id <> n_id),
        |ranked AS (
        |  SELECT q_id, bucket, n_id, sim,
        |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
        |  FROM scored)
        |SELECT q_id, bucket, n_id, sim, rn FROM ranked WHERE rn <= 3
        |ORDER BY q_id, rn""".stripMargin,

    // Mirrors AnnJobs.hyperplaneQuantizedTopK(dim=64, k=3, nBits=8,
    // seed=7): the bucket is the sign pattern of projections onto the SAME
    // seeded ±1 matrix (generated once in Scala, folded into this SQL as
    // literals), then the int8 within-bucket ranking of
    // q_ann_lsh_quantized.
    "q_ann_hyperplane_quantized" ->
      s"""WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    ($hyperplaneSqlBucket) AS bucket,
        |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS maxabs
        |  FROM embeddings),
        |deq AS (
        |  SELECT vec_id, bucket,
        |         CASE WHEN maxabs = 0
        |              THEN list_transform(emb, x -> CAST(0.0 AS DOUBLE))
        |              ELSE list_transform(emb, x -> round(x * 127.0 / maxabs) * maxabs / 127.0)
        |         END AS demb
        |  FROM base),
        |q AS (SELECT vec_id AS q_id, bucket, demb AS q_emb FROM deq WHERE vec_id < 10),
        |c AS (SELECT vec_id AS n_id, bucket, demb AS n_emb FROM deq),
        |scored AS (
        |  SELECT q_id, q.bucket AS bucket, n_id,
        |         round(list_cosine_similarity(q_emb, n_emb), 4) AS sim
        |  FROM q JOIN c ON q.bucket = c.bucket AND q_id <> n_id),
        |ranked AS (
        |  SELECT q_id, bucket, n_id, sim,
        |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
        |  FROM scored)
        |SELECT q_id, bucket, n_id, sim, rn FROM ranked WHERE rn <= 3
        |ORDER BY q_id, rn""".stripMargin,

    // Mirrors SamplingJobs.stratifiedSample(en→0.10, zh→0.50, default 0.25):
    // keep when the first two hex chars of md5(doc_id) sort below the
    // stratum's threshold (hex('1a')=26≈0.10*256, '80'=128=0.50*256,
    // '40'=64=0.25*256).
    "q_sample_stratified" ->
      """SELECT doc_id, lang, source,
        |       substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
        |      CASE lang WHEN 'en' THEN '1a' WHEN 'zh' THEN '80' ELSE '40' END
        |ORDER BY doc_id""".stripMargin,

    // Mirrors SamplingJobs.hostQuota(k=20): rank per source by
    // md5(doc_id) with doc_id as the total-order tiebreak, keep rk<=20.
    "q_host_quota" ->
      """SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|a)\b')) AS en_hits,
        |  len(regexp_extract_all(lower(text), '\b(?:der|und|die|das|ein)\b')) AS de_hits,
        |  len(regexp_extract_all(lower(text), '\b(?:le|la|et|les|un)\b')) AS fr_hits,
        |  CASE WHEN len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|a)\b'))
        |            >= len(regexp_extract_all(lower(text), '\b(?:der|und|die|das|ein)\b'))
        |        AND len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|a)\b'))
        |            >= len(regexp_extract_all(lower(text), '\b(?:le|la|et|les|un)\b'))
        |       THEN 'en'
        |       WHEN len(regexp_extract_all(lower(text), '\b(?:der|und|die|das|ein)\b'))
        |            >= len(regexp_extract_all(lower(text), '\b(?:le|la|et|les|un)\b'))
        |       THEN 'de' ELSE 'fr' END AS lang_guess
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_quality_score" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
        |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
        |  len(regexp_extract_all(lower(text), '\b(?:the|and|of|a|to)\b')) AS n_stop,
        |  round(
        |    least(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) / 100.0, 1.0) * 0.5 +
        |    (1.0 - least(CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
        |                 / CAST(greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1) AS DOUBLE), 1.0)) * 0.25 +
        |    least(CAST(len(regexp_extract_all(lower(text), '\b(?:the|and|of|a|to)\b')) AS DOUBLE)
        |          / CAST(greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1) AS DOUBLE) * 5.0, 1.0) * 0.25,
        |    6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_ish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      """WITH norm AS (
        |  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS nt FROM documents),
        |shingles AS (
        |  SELECT doc_id, md5(substr(nt, CAST(i AS INT), 8)) AS h
        |  FROM norm, unnest(range(1, CAST(greatest(length(nt) - 7, 1) AS BIGINT) + 1)) AS t(i)),
        |agg AS (
        |  SELECT doc_id, min(h) AS min_shingle, max(h) AS max_shingle
        |  FROM shingles GROUP BY doc_id)
        |SELECT n.doc_id, md5(n.nt) AS fp, a.min_shingle, a.max_shingle
        |FROM norm n JOIN agg a ON n.doc_id = a.doc_id
        |ORDER BY n.doc_id""".stripMargin,

    "q_events_hourly" ->
      """SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_kg_sues" ->
      """WITH parties AS (
        |  SELECT doc_id,
        |         regexp_extract_all(lower(text), '[a-z]+')[1:2] AS plaintiffs,
        |         regexp_extract_all(lower(text), '[a-z]+')[4:5] AS defendants
        |  FROM documents),
        |sues AS (
        |  SELECT u1.p, u2.d
        |  FROM parties, unnest(plaintiffs) AS u1(p), unnest(defendants) AS u2(d))
        |SELECT p, d, count(*) AS n FROM sues
        |GROUP BY p, d ORDER BY p, d""".stripMargin,

    "q_currency_totals" ->
      """SELECT CASE WHEN l_returnflag = 'R' THEN 'HK$'
        |            WHEN l_returnflag = 'A' THEN 'USD' ELSE '$' END AS currency,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same HUGEINT→float64 hazard as q_doc_completeness: cast the integer
    // sum to BIGINT so both engines hash the same rendering.
    "q_events_sessions" ->
      """WITH w AS (
        |  SELECT user_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN prev_ts IS NULL
        |            OR epoch_us(ts) - epoch_us(prev_ts) > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_rollup_orders" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,

    "q_events_top_users" ->
      """SELECT user_id,
        |  CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total,
        |  count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY total DESC, user_id LIMIT 5""".stripMargin,

    // WARC round trip: every output column is a pure function of the
    // documents row (URI template, fixed status/mime, charset/transfer
    // variants keyed on doc_id, text invariance under encode→decode).
    "q_warc_roundtrip" ->
      """SELECT doc_id,
        |  'https://' || source || '.example.org/' || lang || '/' ||
        |    CAST(doc_id AS VARCHAR) AS url,
        |  200 AS status,
        |  'text/plain' AS content_type,
        |  CASE WHEN doc_id % 5 = 0 THEN 'utf-16' ELSE 'utf-8' END AS charset,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // URL canonicalization: the messy synthetic URL per doc_id % 4 variant
    // has one RFC 3986 §6 canonical form, stated literally here — scheme/
    // host lowercasing, default-port elision, dot-segment removal, %7e→~ /
    // %41→A decoding with %2f kept encoded uppercased, tracking-param
    // removal, query sort, fragment drop, empty-path → "/".
    "q_url_canonicalize" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INTEGER)
        |    WHEN 0 THEN 'http://www.' || source || '-site.com/a/c/d?a=1&z=26'
        |    WHEN 1 THEN 'https://cdn.' || source || '-site.co.uk/~' || lang || '/A%2F'
        |    WHEN 2 THEN 'ftp://files.' || source || '-site.org/'
        |    ELSE 'https://' || source || '-site.com.hk:8443/?a=3&b=1&b=2'
        |  END AS url_canon,
        |  CASE CAST(doc_id % 4 AS INTEGER)
        |    WHEN 0 THEN source || '-site.com'
        |    WHEN 1 THEN source || '-site.co.uk'
        |    WHEN 2 THEN source || '-site.org'
        |    ELSE source || '-site.com.hk'
        |  END AS site,
        |  CASE CAST(doc_id % 4 AS INTEGER)
        |    WHEN 0 THEN 'com.' || source || '-site.www'
        |    WHEN 1 THEN 'uk.co.' || source || '-site.cdn'
        |    WHEN 2 THEN 'org.' || source || '-site.files'
        |    ELSE 'hk.com.' || source || '-site'
        |  END AS host_rev
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Each variant's RFC 9309 verdict, stated literally: 0 no-rule-matches,
    // 1 Disallow /private/ (longest match), 2 Allow /private/pub* out-longs
    // the Disallow, 3 the anchored /*.pdf$ fires, 4 the anchor rejects a
    // query-string tail, 5 the 13-octet Allow out-longs the 7-octet
    // anchored Disallow. otherbot falls to the `*` group (Disallow: /) and
    // has no Crawl-delay.
    "q_robots_filter" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 6 AS INTEGER)
        |    WHEN 0 THEN '/public/index.html'
        |    WHEN 1 THEN '/private/data'
        |    WHEN 2 THEN '/private/pubfile'
        |    WHEN 3 THEN '/docs/file.pdf'
        |    WHEN 4 THEN '/docs/file.pdf?x=1'
        |    ELSE '/private/pub.pdf'
        |  END AS path,
        |  CAST(doc_id % 6 AS INTEGER) IN (0, 2, 4, 5) AS allowed,
        |  FALSE AS allowed_other,
        |  CAST(2.5 AS DOUBLE) AS crawl_delay,
        |  CAST(NULL AS DOUBLE) AS crawl_delay_other
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Redirect chains: the synthetic fetch log restated with its
    // Locations already RFC 3986-resolved, then the hop walk replayed as
    // a recursive CTE capped at the same 5-hop budget; the deepest row
    // per URL classifies exactly as the Spark resolver does.
    "q_redirect_resolve" ->
      """WITH RECURSIVE fetch_log AS (
        |  SELECT 'https://www.' || source || '-site.com/p' || doc_id AS url,
        |    CASE CAST(doc_id % 5 AS INTEGER)
        |      WHEN 0 THEN 200 WHEN 1 THEN 301 WHEN 2 THEN 302
        |      WHEN 3 THEN 308 ELSE 301 END AS status,
        |    CASE CAST(doc_id % 5 AS INTEGER)
        |      WHEN 1 THEN 'https://www.' || source || '-site.com/r/' || doc_id
        |      WHEN 2 THEN 'https://www.' || source || '-site.com/hop-' || doc_id
        |      WHEN 3 THEN 'https://www.' || source || '-site.com/missing' || doc_id
        |      WHEN 4 THEN 'https://www.' || source || '-site.com/loopA' || doc_id
        |    END AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://www.' || source || '-site.com/r/' || doc_id, 200, NULL
        |  FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT 'https://www.' || source || '-site.com/hop-' || doc_id, 301,
        |    'https://www.' || source || '-site.com/end' || doc_id
        |  FROM documents WHERE doc_id % 5 = 2
        |  UNION ALL
        |  SELECT 'https://www.' || source || '-site.com/end' || doc_id, 404, NULL
        |  FROM documents WHERE doc_id % 5 = 2
        |  UNION ALL
        |  SELECT 'https://www.' || source || '-site.com/loopA' || doc_id, 302,
        |    'https://www.' || source || '-site.com/loopB' || doc_id
        |  FROM documents WHERE doc_id % 5 = 4
        |  UNION ALL
        |  SELECT 'https://www.' || source || '-site.com/loopB' || doc_id, 301,
        |    'https://www.' || source || '-site.com/loopA' || doc_id
        |  FROM documents WHERE doc_id % 5 = 4
        |),
        |walk(url, cur, n_hops) AS (
        |  SELECT url, url, 0 FROM fetch_log
        |  UNION ALL
        |  SELECT w.url, f.dst, w.n_hops + 1
        |  FROM walk w JOIN fetch_log f ON w.cur = f.url
        |  WHERE f.dst IS NOT NULL AND w.n_hops < 5
        |),
        |deepest AS (
        |  SELECT url, cur, n_hops,
        |    ROW_NUMBER() OVER (PARTITION BY url ORDER BY n_hops DESC) AS rn
        |  FROM walk
        |)
        |SELECT d.url,
        |  CASE WHEN f.dst IS NOT NULL THEN 'too_many'
        |    WHEN f.status IS NOT NULL THEN 'fetched'
        |    ELSE 'unfetched' END AS resolution,
        |  CASE WHEN f.dst IS NOT NULL THEN NULL ELSE d.cur END AS final_url,
        |  CASE WHEN f.dst IS NULL THEN f.status END AS final_status,
        |  d.n_hops
        |FROM deepest d LEFT JOIN fetch_log f ON d.cur = f.url
        |WHERE d.rn = 1
        |ORDER BY d.url""".stripMargin,

    // Site stats: group by the expected eTLD+1 of each variant's host.
    "q_url_site_stats" ->
      """SELECT
        |  CASE CAST(doc_id % 4 AS INTEGER)
        |    WHEN 0 THEN source || '-site.com'
        |    WHEN 1 THEN source || '-site.co.uk'
        |    WHEN 2 THEN source || '-site.org'
        |    ELSE source || '-site.com.hk'
        |  END AS site,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY site""".stripMargin,

    // Each kept link of GraphJobs.linkedPage stated literally: the nav
    // pair, the dot-segment merge, the shouting-case absolute ref, the
    // protocol-relative partner, the nofollow ad, and the fragment-only
    // ref resolving to the effective <base>. mailto:/javascript: refs and
    // the <script> decoy never appear.
    "q_link_extract" ->
      """WITH d AS (
        |  SELECT doc_id, source, lang, CAST(doc_id % 3 AS INTEGER) AS k,
        |         doc_id % 2 = 0 AS ev
        |  FROM documents)
        |SELECT doc_id, pos, dst_url, anchor, nofollow FROM (
        |  SELECT doc_id, 0 AS pos,
        |         'https://www.' || source || '-site.com/home' AS dst_url,
        |         'Home' AS anchor, FALSE AS nofollow FROM d
        |  UNION ALL SELECT doc_id, 1,
        |    'https://www.' || source || '-site.com/' || lang || '/sub/about.html',
        |    'About us', FALSE FROM d
        |  UNION ALL SELECT doc_id, 2,
        |    'https://www.' || source || '-site.com/' || lang || '/up/page?a=1&b=2',
        |    'Up page', FALSE FROM d
        |  UNION ALL SELECT doc_id, 3,
        |    'https://cdn.' || source || '-site.co.uk/' || lang || '/?q=1',
        |    'Mirror', FALSE FROM d
        |  UNION ALL SELECT doc_id, 4,
        |    'https://partner-' || k || '.example/x/',
        |    CASE WHEN ev THEN 'Visit partner ' ELSE 'Partner ' END || k,
        |    FALSE FROM d
        |  UNION ALL SELECT doc_id, 5,
        |    'https://ads.' || source || '-net.com/click?id=' || doc_id,
        |    'Sponsored', TRUE FROM d
        |  UNION ALL SELECT doc_id, 6,
        |    'https://www.' || source || '-site.com/' || lang || '/sub/',
        |    'Top', FALSE FROM d
        |) ORDER BY doc_id, pos""".stripMargin,

    // Host graph: per doc, one follow edge to the co.uk mirror and one to
    // partner-(doc_id%3); self-site and nofollow edges never materialize.
    "q_host_graph" ->
      """SELECT src_site, dst_site, count(*) AS weight FROM (
        |  SELECT source || '-site.com' AS src_site,
        |         source || '-site.co.uk' AS dst_site FROM documents
        |  UNION ALL
        |  SELECT source || '-site.com',
        |         'partner-' || CAST(doc_id % 3 AS INTEGER) || '.example'
        |  FROM documents
        |) GROUP BY 1, 2 ORDER BY src_site, dst_site""".stripMargin,

    // PageRank replayed exactly: the same 4 damped iterations with
    // dangling-mass redistribution, unrolled as chained CTEs (standard SQL
    // forbids aggregation in a recursive term). All arithmetic is forced
    // to DOUBLE in the same operation order as the engine ((1-d)/n, then
    // d*(contrib+dm/n)), so engine and oracle agree to the last few ulps;
    // the ppm rounding absorbs the summation-order residue.
    "q_pagerank" ->
      """WITH edges AS (
        |  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM (
        |    SELECT source || '-site.com' AS src,
        |           source || '-site.co.uk' AS dst FROM documents
        |    UNION ALL
        |    SELECT source || '-site.com',
        |           'partner-' || CAST(doc_id % 3 AS INTEGER) || '.example'
        |    FROM documents
        |  ) GROUP BY 1, 2),
        |nodes AS (SELECT src AS site FROM edges UNION SELECT dst FROM edges),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
        |shares AS (
        |  SELECT e.src, e.dst, e.w / o.ow AS share
        |  FROM edges e JOIN outw o USING (src)),
        |r0 AS (SELECT site, CAST(1.0 AS DOUBLE) / nn.n AS r FROM nodes, nn),
        |d1 AS (SELECT coalesce(sum(r), 0) AS dm FROM r0
        |       WHERE site NOT IN (SELECT src FROM edges)),
        |c1 AS (SELECT s.dst AS site, sum(s.share * r0.r) AS c
        |       FROM shares s JOIN r0 ON s.src = r0.site GROUP BY 1),
        |r1 AS (SELECT nodes.site,
        |         (1 - CAST(0.85 AS DOUBLE)) / nn.n
        |           + CAST(0.85 AS DOUBLE) * (coalesce(c1.c, 0) + d1.dm / nn.n) AS r
        |       FROM nodes LEFT JOIN c1 USING (site), nn, d1),
        |d2 AS (SELECT coalesce(sum(r), 0) AS dm FROM r1
        |       WHERE site NOT IN (SELECT src FROM edges)),
        |c2 AS (SELECT s.dst AS site, sum(s.share * r1.r) AS c
        |       FROM shares s JOIN r1 ON s.src = r1.site GROUP BY 1),
        |r2 AS (SELECT nodes.site,
        |         (1 - CAST(0.85 AS DOUBLE)) / nn.n
        |           + CAST(0.85 AS DOUBLE) * (coalesce(c2.c, 0) + d2.dm / nn.n) AS r
        |       FROM nodes LEFT JOIN c2 USING (site), nn, d2),
        |d3 AS (SELECT coalesce(sum(r), 0) AS dm FROM r2
        |       WHERE site NOT IN (SELECT src FROM edges)),
        |c3 AS (SELECT s.dst AS site, sum(s.share * r2.r) AS c
        |       FROM shares s JOIN r2 ON s.src = r2.site GROUP BY 1),
        |r3 AS (SELECT nodes.site,
        |         (1 - CAST(0.85 AS DOUBLE)) / nn.n
        |           + CAST(0.85 AS DOUBLE) * (coalesce(c3.c, 0) + d3.dm / nn.n) AS r
        |       FROM nodes LEFT JOIN c3 USING (site), nn, d3),
        |d4 AS (SELECT coalesce(sum(r), 0) AS dm FROM r3
        |       WHERE site NOT IN (SELECT src FROM edges)),
        |c4 AS (SELECT s.dst AS site, sum(s.share * r3.r) AS c
        |       FROM shares s JOIN r3 ON s.src = r3.site GROUP BY 1),
        |r4 AS (SELECT nodes.site,
        |         (1 - CAST(0.85 AS DOUBLE)) / nn.n
        |           + CAST(0.85 AS DOUBLE) * (coalesce(c4.c, 0) + d4.dm / nn.n) AS r
        |       FROM nodes LEFT JOIN c4 USING (site), nn, d4)
        |SELECT site, CAST(round(r * 1000000) AS BIGINT) AS rank_ppm
        |FROM r4 ORDER BY site""".stripMargin,

    // Anchor corpus: every link's (dst_site, anchor) including nofollow,
    // top-2 per site by (count desc, text asc).
    "q_anchor_stats" ->
      """WITH links AS (
        |  SELECT source || '-site.com' AS dst_site, 'Home' AS anchor FROM documents
        |  UNION ALL SELECT source || '-site.com', 'About us' FROM documents
        |  UNION ALL SELECT source || '-site.com', 'Up page' FROM documents
        |  UNION ALL SELECT source || '-site.com', 'Top' FROM documents
        |  UNION ALL SELECT source || '-site.co.uk', 'Mirror' FROM documents
        |  UNION ALL SELECT
        |    'partner-' || CAST(doc_id % 3 AS INTEGER) || '.example',
        |    CASE WHEN doc_id % 2 = 0 THEN 'Visit partner ' ELSE 'Partner ' END
        |      || CAST(doc_id % 3 AS INTEGER)
        |  FROM documents
        |  UNION ALL SELECT source || '-net.com', 'Sponsored' FROM documents
        |),
        |counted AS (SELECT dst_site, anchor, count(*) AS n FROM links GROUP BY 1, 2),
        |ranked AS (SELECT dst_site, anchor, n,
        |  row_number() OVER (PARTITION BY dst_site ORDER BY n DESC, anchor ASC) AS rk
        |  FROM counted)
        |SELECT dst_site, anchor, n, rk FROM ranked
        |WHERE rk <= 2 ORDER BY dst_site, rk""".stripMargin,

    // Line dedup replayed in full: the oracle re-discovers the hot lines
    // (md5 of lower/ws-collapsed/trimmed line, counted over distinct
    // docs) and reassembles survivors in original order — not a closed
    // form, the actual algorithm in SQL.
    "q_line_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    '(c) Graft Portal - all rights reserved.' || chr(10) ||
        |    coalesce(text, '') || chr(10) ||
        |    'Subscribe to our newsletter!' || chr(10) ||
        |    'From the ' || source || ' newsroom' AS t2
        |  FROM documents),
        |l AS (SELECT doc_id,
        |        unnest(range(1, len(string_split(t2, chr(10))) + 1)) AS pos,
        |        unnest(string_split(t2, chr(10))) AS line FROM d),
        |k AS (SELECT doc_id, pos, line,
        |        md5(lower(trim(regexp_replace(line, '\s+', ' ', 'g')))) AS key
        |      FROM l),
        |hot AS (SELECT key FROM (
        |          SELECT key, count(DISTINCT doc_id) AS c FROM k GROUP BY 1)
        |        WHERE c >= 5)
        |SELECT doc_id,
        |  count(*) FILTER (WHERE key NOT IN (SELECT key FROM hot)) AS n_kept,
        |  count(*) FILTER (WHERE key IN (SELECT key FROM hot)) AS n_removed,
        |  md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
        |      FILTER (WHERE key NOT IN (SELECT key FROM hot)), '')) AS clean_md5
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Charset round trip: the oracle KNOWS the injected encoding (the
    // doc_id % 4 rule) and the pre-encode text, so a correct sniffer +
    // decoder must reproduce both from the bytes alone.
    "q_charset_sniff" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16le'
        |    WHEN 2 THEN 'windows-1252' ELSE 'ascii' END AS charset,
        |  md5(CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN text || ' — № café ™'
        |    WHEN 1 THEN text || ' • wide text'
        |    WHEN 2 THEN text || ' café ± naïve'
        |    ELSE text END) AS md5_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Mojibake repair: exactly the even docs (non-ASCII garnish) are
    // mangled by the utf-8-as-1252 decode, and repair must restore the
    // original text byte-for-byte (md5 computed from SQL).
    "q_mojibake_fix" ->
      """SELECT doc_id,
        |  doc_id % 2 = 0 AS was_mangled,
        |  md5(CASE WHEN doc_id % 2 = 0 THEN text || ' — № café ™'
        |           ELSE text END) AS md5_fixed
        |FROM documents ORDER BY doc_id""".stripMargin,

    // PII: the oracle rebuilds the injected wrap, re-runs the SAME four
    // patterns (interpolated from PiiOps so engine and oracle cannot
    // drift), replays the ISO/IEC 7812 Luhn checksum over each card
    // candidate with list lambdas, and reproduces the redaction as the
    // documented regexp_replace chain.
    "q_pii_stats" ->
      s"""WITH w AS (
        |  SELECT doc_id, text || chr(10) || concat_ws(' ',
        |    'reach user' || CAST(doc_id AS VARCHAR) || '@example.com',
        |    CASE WHEN doc_id % 2 = 0 THEN 'call 555-' ||
        |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') END,
        |    CASE WHEN doc_id % 3 = 0 THEN 'from 10.0.' ||
        |      CAST(doc_id % 256 AS VARCHAR) || '.' ||
        |      CAST((doc_id * 7) % 256 AS VARCHAR) END,
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN '4111111111111111'
        |      WHEN 1 THEN '4111111111111112'
        |      WHEN 2 THEN '5500 0055 5555 5559' END) AS t2
        |  FROM documents),
        |c AS (SELECT doc_id, t2,
        |    regexp_extract_all(t2, '${PiiOps.EmailRe}') AS emails,
        |    regexp_extract_all(t2, '${PiiOps.PhoneRe}') AS phones,
        |    regexp_extract_all(t2, '${PiiOps.Ipv4Re}') AS ips,
        |    regexp_extract_all(t2, '${PiiOps.CardRe}') AS cards
        |  FROM w)
        |SELECT doc_id,
        |  len(emails) AS n_email, len(phones) AS n_phone, len(ips) AS n_ip,
        |  len(cards) AS n_card,
        |  len(list_filter(list_transform(cards, x -> regexp_replace(x, '[^0-9]', '', 'g')), d ->
        |    list_sum(list_transform(range(1, length(d) + 1), i ->
        |      CASE WHEN i % 2 = 1 THEN CAST(substr(reverse(d), i, 1) AS INT)
        |           WHEN 2 * CAST(substr(reverse(d), i, 1) AS INT) > 9
        |             THEN 2 * CAST(substr(reverse(d), i, 1) AS INT) - 9
        |           ELSE 2 * CAST(substr(reverse(d), i, 1) AS INT) END)) % 10 = 0)) AS n_card_valid,
        |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t2,
        |      '${PiiOps.EmailRe}', '<EMAIL>', 'g'),
        |      '${PiiOps.CardRe}', '<CARD>', 'g'),
        |      '${PiiOps.Ipv4Re}', '<IP>', 'g'),
        |      '${PiiOps.PhoneRe}', '<PHONE>', 'g')) AS md5_redacted
        |FROM c ORDER BY doc_id""".stripMargin,

    // Unicode normalization: DuckDB's utf8proc-based nfc_normalize /
    // strip_accents replay the engine's UAX #15 kernels. The oracle
    // garnish is PRECOMPOSED (chr(233)=é, chr(197)=Å, chr(201)=É,
    // chr(241)=ñ, and chr(937)=Ω — the NFC image of U+2126 OHM) while
    // the engine side is fed the DECOMPOSED forms: the hashes meet only
    // if the engine composes correctly.
    "q_unicode_norm" ->
      """WITH g AS (
        |  SELECT doc_id, coalesce(text, '') || CASE doc_id % 4
        |    WHEN 0 THEN ' caf' || chr(233)
        |    WHEN 1 THEN ' ' || chr(197) || 'ngstrom'
        |    WHEN 2 THEN ' ' || chr(937) || 'resistance'
        |    ELSE ' ' || chr(201) || chr(241) || 'QUOTA' END AS s
        |  FROM documents)
        |SELECT doc_id,
        |  md5(nfc_normalize(s)) AS md5_nfc,
        |  md5(strip_accents(lower(nfc_normalize(s)))) AS md5_key
        |FROM g ORDER BY doc_id""".stripMargin,

    // RTF extraction: decode(encode(x)) == x through a real control-word
    // stream; the garnish is a backslash, braces, a tab, and two \uN
    // chars (chr(233)=é, chr(20013)=中) the oracle re-derives raw.
    "q_rtf_text" ->
      """SELECT doc_id, 'rtf' AS kind,
        |  md5(coalesce(text, '') || chr(10) || 'RTF & {braces} \ tab' ||
        |      chr(9) || ' ' || chr(233) || chr(20013)) AS md5_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Feed parsing: the oracle replays the doc_id % 3 synthesis rule —
    // kind, 3 links/timestamps per doc, titles only for rss/atom.
    "q_feed_entries" ->
      """SELECT d.doc_id,
        |  CASE CAST(d.doc_id % 3 AS INT)
        |    WHEN 0 THEN 'rss' WHEN 1 THEN 'atom' ELSE 'sitemap' END AS kind,
        |  CASE WHEN d.doc_id % 3 = 2 THEN NULL
        |    ELSE 'doc & <' || d.doc_id || ' #' || t.k END AS title,
        |  'https://ex.com/' || d.doc_id || '/' || t.k AS link,
        |  '2026-01-0' || (t.k + 1) AS ts
        |FROM documents d CROSS JOIN (SELECT unnest([0,1,2]) AS k) t
        |ORDER BY doc_id, link""".stripMargin,

    // Office extraction: encode(decode(x)) == x through real ZIP+XML
    // containers; the oracle knows the container kind from the doc_id
    // parity and the exact expected text from SQL.
    "q_office_text" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'docx' ELSE 'odt' END AS kind,
        |  md5(coalesce(text, '') || chr(10) || 'meta & <tags>' || chr(9) ||
        |      'end ''q'' "z"') AS md5_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Exact-substring dedup replayed via the per-char mask definition
    // (provably equivalent to the engine's interval gap walk: both
    // compute the complement of the union of covered windows).
    "q_dedup_substr" ->
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |w AS (SELECT doc_id, i AS pos, substr(t, i, 50) AS s
        |      FROM d, unnest(range(1, greatest(length(t) - 49, 0) + 1)) AS u(i)),
        |dup AS (SELECT s FROM w GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT doc_id, pos FROM w WHERE s IN (SELECT s FROM dup)),
        |ch AS (SELECT doc_id, j, substr(t, j, 1) AS c
        |       FROM d, unnest(range(1, length(t) + 1)) AS v(j)),
        |keep AS (
        |  SELECT ch.doc_id, ch.j, ch.c FROM ch
        |  WHERE NOT EXISTS (SELECT 1 FROM cov
        |    WHERE cov.doc_id = ch.doc_id AND cov.pos <= ch.j
        |      AND ch.j < cov.pos + 50))
        |SELECT d.doc_id,
        |  coalesce((SELECT count(*) FROM cov WHERE cov.doc_id = d.doc_id), 0) AS n_cov,
        |  md5(coalesce((SELECT string_agg(c, '' ORDER BY j) FROM keep
        |                WHERE keep.doc_id = d.doc_id), '')) AS kept_md5,
        |  coalesce((SELECT count(*) FROM keep WHERE keep.doc_id = d.doc_id), 0) AS n_kept
        |FROM d ORDER BY doc_id""".stripMargin,

    // LM quality replayed in full: the oracle re-trains the per-language
    // trigram model (same normalization, same add-1/2 arithmetic, same
    // integer-scaled log10), re-scores every doc with the unseen floor,
    // and re-buckets with the same ntile ordering.
    "q_lm_quality" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
        |  FROM documents),
        |tr AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, greatest(length(nt) - 2, 0) + 1),
        |                          i -> substr(nt, i, 3))) AS tri
        |  FROM d),
        |cnt AS (SELECT lang, tri, count(*) AS c FROM tr GROUP BY 1, 2),
        |tot AS (SELECT lang, sum(c) AS n_lang, count(*) AS v_lang
        |        FROM cnt GROUP BY 1),
        |model AS (
        |  SELECT cnt.lang, tri,
        |    CAST(round(log10(CAST(2 * c + 1 AS DOUBLE) /
        |                     CAST(2 * n_lang + v_lang AS DOUBLE)) * 1e9) AS BIGINT) AS logp_e9
        |  FROM cnt JOIN tot USING (lang)),
        |fl AS (
        |  SELECT lang,
        |    CAST(round(log10(1.0 / CAST(2 * n_lang + v_lang AS DOUBLE)) * 1e9) AS BIGINT) AS logp0_e9
        |  FROM tot),
        |sc AS (
        |  SELECT doc_id, tr.lang,
        |    CAST(sum(coalesce(model.logp_e9, fl.logp0_e9)) AS BIGINT) AS sum_logp_e9,
        |    count(*) AS n_tri
        |  FROM tr
        |  LEFT JOIN model ON tr.lang = model.lang AND tr.tri = model.tri
        |  JOIN fl ON tr.lang = fl.lang
        |  GROUP BY 1, 2)
        |SELECT doc_id, lang, n_tri, sum_logp_e9,
        |  (['head', 'middle', 'tail'])[ntile(3) OVER (
        |    PARTITION BY lang
        |    ORDER BY CAST(sum_logp_e9 AS DOUBLE) / n_tri DESC, doc_id)] AS bucket
        |FROM sc ORDER BY doc_id""".stripMargin,

    // HTML extraction: the chrome is fixed (HtmlJob.chromePage), so the
    // WSDM-2010 classifier outcome reduces to the 17-word rule — the
    // article paragraph is content iff it has >= 17 space-split words
    // (curr_numWords > 16 branch), which also promotes the adjacent
    // "Case Report <id>" heading; the one <img> figure always survives
    // (it sits in <article>, not a negative container).
    "q_html_extract" ->
      """WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, nt,
        |         CASE WHEN nt = '' THEN 0
        |              ELSE length(nt) - length(replace(nt, ' ', '')) + 1 END AS words
        |  FROM d)
        |SELECT doc_id,
        |  CAST(CASE WHEN words >= 17 THEN 2 ELSE 0 END AS BIGINT) AS n_content,
        |  CAST(1 AS BIGINT) AS n_media,
        |  CAST(CASE WHEN words >= 17
        |       THEN length('Case Report ' || CAST(doc_id AS VARCHAR)) + length(nt)
        |       ELSE 0 END AS BIGINT) AS content_chars
        |FROM w ORDER BY doc_id""".stripMargin,

    // Layout: the synthetic geometry guarantees XY-cut reading order ==
    // word order and furniture == 2 blocks per page (see q_layout_order's
    // Spark-side comment), so the oracle is pure text arithmetic.
    "q_layout_order" ->
      """WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, nt,
        |         CASE WHEN nt = '' THEN 0
        |              ELSE length(nt) - length(replace(nt, ' ', '')) + 1 END AS words
        |  FROM d)
        |SELECT doc_id,
        |  CAST(words AS BIGINT) AS n_kept,
        |  CAST(2 * ceil(words / 10.0) AS BIGINT) AS n_removed,
        |  md5(nt) AS reading_md5
        |FROM w ORDER BY doc_id""".stripMargin,

    // Composed oracle: each stage's SQL is the same as its standalone
    // query's oracle; chunk/pack counts use the closed forms proven for
    // size=32/overlap=8/budget=100 (n_chunks = 1+ceil((n-32)/24),
    // n_packs = ceil(n_chunks/3)).
    "q_training_pipeline" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, nt, string_split(nt, ' ') AS toks,
        |         CASE WHEN nt = '' THEN 0
        |              ELSE length(nt) - length(replace(nt, ' ', '')) + 1 END AS n
        |  FROM d),
        |q AS (
        |  SELECT doc_id, nt, toks, n FROM t
        |  WHERE n >= 50 AND n <= 100000
        |    AND CAST(length(nt) - (n - 1) AS DOUBLE) / n BETWEEN 3.0 AND 10.0
        |    AND CAST((length(nt) - length(replace(nt, '#', '')))
        |           + (length(nt) - length(replace(nt, '...', ''))) / 3
        |           + (length(nt) - length(replace(nt, '…', ''))) AS DOUBLE) / n <= 0.1
        |    AND CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / n >= 0.8
        |    AND len(list_distinct(list_intersect(
        |          list_transform(toks, x -> lower(x)),
        |          ['the','and','of','to','a','in','is','that']))) >= 2),
        |ded AS (
        |  SELECT doc_id, nt, toks, n FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(nt) ORDER BY doc_id) AS rn
        |    FROM q) WHERE rn = 1),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    md5(array_to_string(list_slice(toks, CAST(i + 1 AS INT), CAST(i + 4 AS INT)), ' ')) AS shingle
        |  FROM ded, unnest(range(0, n - 3)) AS u(i) WHERE n >= 4),
        |test AS (SELECT doc_id AS tid, shingle FROM sh WHERE doc_id % 97 = 0),
        |corp AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
        |keep AS (SELECT shingle FROM corp GROUP BY shingle HAVING count(*) <= 50),
        |contam AS (
        |  SELECT DISTINCT c.doc_id
        |  FROM corp c JOIN keep USING (shingle) JOIN test USING (shingle)),
        |train AS (
        |  SELECT * FROM ded
        |  WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)),
        |ck AS (
        |  SELECT doc_id,
        |         CASE WHEN n <= 32 THEN 1
        |              ELSE 1 + CAST(ceil((n - 32) / 24.0) AS INT) END AS n_chunks
        |  FROM train)
        |SELECT
        |  CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_input,
        |  CAST((SELECT count(*) FROM q) AS BIGINT) AS n_quality,
        |  CAST((SELECT count(*) FROM ded) AS BIGINT) AS n_dedup,
        |  CAST((SELECT count(*) FROM train) AS BIGINT) AS n_train,
        |  CAST((SELECT coalesce(sum(n_chunks), 0) FROM ck) AS BIGINT) AS n_chunks,
        |  CAST((SELECT coalesce(sum(CAST(ceil(n_chunks / 3.0) AS INT)), 0) FROM ck) AS BIGINT) AS n_packs""".stripMargin,

    // Composed oracle for the NEAR-DUP pipeline: the q_training_pipeline
    // oracle with the q_dedup_minhash_verified (jaccard >= 0.9 over the
    // exact-dedup survivors' raw text) and q_dedup_components (recursive
    // reachability closure, min-id component) oracles spliced in between
    // the exact-dedup and split stages. Kept docs = survivors minus
    // non-canonical cluster members.
    "q_training_pipeline_neardup" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, text,
        |         trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, text, nt, string_split(nt, ' ') AS toks,
        |         CASE WHEN nt = '' THEN 0
        |              ELSE length(nt) - length(replace(nt, ' ', '')) + 1 END AS n
        |  FROM d),
        |q AS (
        |  SELECT doc_id, text, nt, toks, n FROM t
        |  WHERE n >= 50 AND n <= 100000
        |    AND CAST(length(nt) - (n - 1) AS DOUBLE) / n BETWEEN 3.0 AND 10.0
        |    AND CAST((length(nt) - length(replace(nt, '#', '')))
        |           + (length(nt) - length(replace(nt, '...', ''))) / 3
        |           + (length(nt) - length(replace(nt, '…', ''))) AS DOUBLE) / n <= 0.1
        |    AND CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / n >= 0.8
        |    AND len(list_distinct(list_intersect(
        |          list_transform(toks, x -> lower(x)),
        |          ['the','and','of','to','a','in','is','that']))) >= 2),
        |ded AS (
        |  SELECT doc_id, text, nt, toks, n FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(nt) ORDER BY doc_id) AS rn
        |    FROM q) WHERE rn = 1),
        |mtok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM ded),
        |sigs AS (
        |  SELECT doc_id,
        |         min(md5(concat('0#', tok))) AS h0, min(md5(concat('1#', tok))) AS h1,
        |         min(md5(concat('2#', tok))) AS h2, min(md5(concat('3#', tok))) AS h3,
        |         min(md5(concat('4#', tok))) AS h4, min(md5(concat('5#', tok))) AS h5,
        |         min(md5(concat('6#', tok))) AS h6, min(md5(concat('7#', tok))) AS h7
        |  FROM mtok GROUP BY doc_id),
        |bandrows AS (
        |  SELECT doc_id, 0 AS bi, md5(concat(h0, h1)) AS bh FROM sigs
        |  UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM sigs
        |  UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM sigs
        |  UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM sigs),
        |bsizes AS (SELECT bi, bh, count(*) AS bn FROM bandrows GROUP BY 1, 2),
        |kept AS (SELECT br.* FROM bandrows br JOIN bsizes s USING (bi, bh) WHERE s.bn <= 200),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM kept a JOIN kept b ON a.bi = b.bi AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |tokset AS (SELECT DISTINCT doc_id, tok FROM mtok),
        |tsizes AS (SELECT doc_id, count(*) AS tn FROM tokset GROUP BY 1),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS inter
        |  FROM cand c
        |  JOIN tokset a ON a.doc_id = c.doc_a
        |  JOIN tokset b ON b.doc_id = c.doc_b AND b.tok = a.tok
        |  GROUP BY 1, 2),
        |verified AS (
        |  SELECT i.doc_a, i.doc_b
        |  FROM inter i
        |  JOIN tsizes sa ON sa.doc_id = i.doc_a
        |  JOIN tsizes sb ON sb.doc_id = i.doc_b
        |  WHERE CAST(i.inter AS DOUBLE) / (sa.tn + sb.tn - i.inter) >= 0.9),
        |sym AS (
        |  SELECT doc_a AS a, doc_b AS b FROM verified
        |  UNION SELECT doc_b, doc_a FROM verified),
        |reach AS (
        |  SELECT a AS id, a AS r FROM sym
        |  UNION
        |  SELECT w.id, s.b FROM reach w JOIN sym s ON s.a = w.r),
        |comp AS (SELECT id AS cid, min(r) AS component FROM reach GROUP BY 1),
        |nd AS (
        |  SELECT dd.doc_id, dd.toks, dd.n FROM ded dd
        |  WHERE dd.doc_id NOT IN (SELECT cid FROM comp WHERE cid <> component)),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    md5(array_to_string(list_slice(toks, CAST(i + 1 AS INT), CAST(i + 4 AS INT)), ' ')) AS shingle
        |  FROM nd, unnest(range(0, n - 3)) AS u(i) WHERE n >= 4),
        |test AS (SELECT doc_id AS tid, shingle FROM sh WHERE doc_id % 97 = 0),
        |corp AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
        |keepsh AS (SELECT shingle FROM corp GROUP BY shingle HAVING count(*) <= 50),
        |contam AS (
        |  SELECT DISTINCT c.doc_id
        |  FROM corp c JOIN keepsh USING (shingle) JOIN test USING (shingle)),
        |train AS (
        |  SELECT * FROM nd
        |  WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)),
        |ck AS (
        |  SELECT doc_id,
        |         CASE WHEN n <= 32 THEN 1
        |              ELSE 1 + CAST(ceil((n - 32) / 24.0) AS INT) END AS n_chunks
        |  FROM train)
        |SELECT
        |  CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_input,
        |  CAST((SELECT count(*) FROM q) AS BIGINT) AS n_quality,
        |  CAST((SELECT count(*) FROM ded) AS BIGINT) AS n_dedup,
        |  CAST((SELECT count(*) FROM nd) AS BIGINT) AS n_neardup,
        |  CAST((SELECT count(*) FROM train) AS BIGINT) AS n_train,
        |  CAST((SELECT coalesce(sum(n_chunks), 0) FROM ck) AS BIGINT) AS n_chunks,
        |  CAST((SELECT coalesce(sum(CAST(ceil(n_chunks / 3.0) AS INT)), 0) FROM ck) AS BIGINT) AS n_packs""".stripMargin,

    "q_decontaminate" ->
      """WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, string_split(nt, ' ') AS toks,
        |         CASE WHEN nt = '' THEN 0
        |              ELSE length(nt) - length(replace(nt, ' ', '')) + 1 END AS n
        |  FROM d),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    md5(array_to_string(list_slice(toks, CAST(i + 1 AS INT), CAST(i + 4 AS INT)), ' ')) AS shingle
        |  FROM t, unnest(range(0, n - 3)) AS u(i) WHERE n >= 4),
        |test AS (SELECT doc_id AS test_doc_id, shingle FROM sh WHERE doc_id % 97 = 0),
        |corp AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
        |keep AS (SELECT shingle FROM corp GROUP BY shingle HAVING count(*) <= 50),
        |hits AS (
        |  SELECT c.doc_id, c.shingle, t2.test_doc_id
        |  FROM corp c JOIN keep k USING (shingle) JOIN test t2 USING (shingle))
        |SELECT doc_id,
        |  CAST(count(DISTINCT shingle) AS BIGINT) AS n_hit_shingles,
        |  CAST(count(DISTINCT test_doc_id) AS BIGINT) AS n_test_docs
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same shingling/cap CTEs as q_decontaminate, grouped per (doc, test
    // doc) with the min shared shingle as the reproducible example.
    "q_decontaminate_audit" ->
      """WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, string_split(nt, ' ') AS toks,
        |         CASE WHEN nt = '' THEN 0
        |              ELSE length(nt) - length(replace(nt, ' ', '')) + 1 END AS n
        |  FROM d),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    md5(array_to_string(list_slice(toks, CAST(i + 1 AS INT), CAST(i + 4 AS INT)), ' ')) AS shingle
        |  FROM t, unnest(range(0, n - 3)) AS u(i) WHERE n >= 4),
        |test AS (SELECT doc_id AS test_doc_id, shingle FROM sh WHERE doc_id % 97 = 0),
        |corp AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
        |keep AS (SELECT shingle FROM corp GROUP BY shingle HAVING count(*) <= 50),
        |hits AS (
        |  SELECT c.doc_id, c.shingle, t2.test_doc_id
        |  FROM corp c JOIN keep k USING (shingle) JOIN test t2 USING (shingle))
        |SELECT doc_id, test_doc_id,
        |  CAST(count(DISTINCT shingle) AS BIGINT) AS n_shared_shingles,
        |  min(shingle) AS example_shingle
        |FROM hits GROUP BY doc_id, test_doc_id ORDER BY doc_id, test_doc_id""".stripMargin,

    "q_quality_gopher" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, nt, string_split(nt, ' ') AS toks,
        |         CASE WHEN nt = '' THEN 0
        |              ELSE length(nt) - length(replace(nt, ' ', '')) + 1 END AS n
        |  FROM d),
        |s AS (
        |  SELECT doc_id, nt, toks, n,
        |    CASE WHEN n = 0 THEN 0.0
        |         ELSE CAST(length(nt) - (n - 1) AS DOUBLE) / n END AS mean_len,
        |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(
        |      (length(nt) - length(replace(nt, '#', '')))
        |      + (length(nt) - length(replace(nt, '...', ''))) / 3
        |      + (length(nt) - length(replace(nt, '…', ''))) AS DOUBLE) / n END AS sym_ratio,
        |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(
        |      len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS DOUBLE) / n END AS alpha_ratio,
        |    len(list_distinct(list_intersect(
        |      list_transform(toks, x -> lower(x)),
        |      ['the','and','of','to','a','in','is','that']))) AS n_stop
        |  FROM t)
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS word_count,
        |  round(mean_len, 4) AS mean_word_len,
        |  round(sym_ratio, 4) AS symbol_word_ratio,
        |  round(alpha_ratio, 4) AS alpha_word_ratio,
        |  CAST(n_stop AS BIGINT) AS n_stopwords,
        |  (n >= 50 AND n <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0
        |   AND sym_ratio <= 0.1 AND alpha_ratio >= 0.8 AND n_stop >= 2) AS passes
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_quality_repetition" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS nt,
        |         list_filter(list_transform(
        |           string_split(coalesce(text, ''), chr(10)), l -> trim(l)),
        |           l -> l <> '') AS lines
        |  FROM documents),
        |dl AS (
        |  SELECT doc_id, nt,
        |    CASE WHEN len(lines) = 0 THEN 0.0
        |         ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines)
        |    END AS dup_line_frac
        |  FROM d),
        |t AS (
        |  SELECT doc_id, string_split(nt, ' ') AS toks,
        |         CASE WHEN nt = '' THEN 0
        |              ELSE length(nt) - length(replace(nt, ' ', '')) + 1 END AS n
        |  FROM d),
        |g AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(toks, CAST(i + 1 AS INT), CAST(i + 2 AS INT)), ' ') AS gram
        |  FROM t, unnest(range(0, n - 1)) AS u(i) WHERE n >= 2),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
        |top AS (
        |  SELECT doc_id, gram AS top_2gram, cnt AS top_2gram_count FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
        |    FROM c) WHERE rn = 1)
        |SELECT dl.doc_id,
        |  round(dl.dup_line_frac, 4) AS dup_line_frac,
        |  coalesce(top.top_2gram, '') AS top_2gram,
        |  CAST(coalesce(top.top_2gram_count, 0) AS BIGINT) AS top_2gram_count,
        |  round(CASE WHEN length(dl.nt) = 0 THEN 0.0
        |        ELSE CAST(coalesce(top.top_2gram_count * length(top.top_2gram), 0) AS DOUBLE)
        |             / length(dl.nt) END, 4) AS top_2gram_frac,
        |  (coalesce(CASE WHEN length(dl.nt) = 0 THEN 0.0
        |        ELSE CAST(coalesce(top.top_2gram_count * length(top.top_2gram), 0) AS DOUBLE)
        |             / length(dl.nt) END, 0.0) <= 0.20
        |   AND dl.dup_line_frac <= 0.30) AS passes_repetition
        |FROM dl LEFT JOIN top USING (doc_id)
        |ORDER BY dl.doc_id""".stripMargin,

    "q_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, string_split(nt, ' ') AS toks,
        |         CASE WHEN nt = '' THEN 0
        |              ELSE length(nt) - length(replace(nt, ' ', '')) + 1 END AS n
        |  FROM d),
        |c AS (
        |  SELECT doc_id, toks, n,
        |         CASE WHEN n = 0 THEN 0 WHEN n <= 32 THEN 1
        |              ELSE 1 + CAST(ceil((n - 32) / 24.0) AS INT) END AS n_chunks
        |  FROM t)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  CAST(least(32, n - i * 24) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(list_slice(toks, CAST(i * 24 + 1 AS INT), CAST(i * 24 + 32 AS INT)), ' ')) AS chunk_md5
        |FROM c, unnest(range(0, n_chunks)) AS u(i)
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // budget=100 over 32-token chunks: greedy == chunk_id / 3 (see the
    // Spark-side comment for the fit argument).
    "q_chunk_pack" ->
      """WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |         CASE WHEN nt = '' THEN 0
        |              ELSE length(nt) - length(replace(nt, ' ', '')) + 1 END AS n
        |  FROM d),
        |c AS (
        |  SELECT doc_id, n,
        |         CASE WHEN n = 0 THEN 0 WHEN n <= 32 THEN 1
        |              ELSE 1 + CAST(ceil((n - 32) / 24.0) AS INT) END AS n_chunks
        |  FROM t),
        |ch AS (
        |  SELECT doc_id, i AS chunk_id, least(32, n - i * 24) AS n_tokens
        |  FROM c, unnest(range(0, n_chunks)) AS u(i))
        |SELECT doc_id, CAST(chunk_id // 3 AS BIGINT) AS pack_id,
        |  CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM ch GROUP BY doc_id, chunk_id // 3
        |ORDER BY doc_id, pack_id""".stripMargin
  )
}
