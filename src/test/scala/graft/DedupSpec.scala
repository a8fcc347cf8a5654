package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{CorpusGen, Decontaminate, DedupJobs, ExtractJob, KgJob, SubstrDedup}

/** Properties of the scale-hardened MinHash dedup: verification soundness
  * (verified ⊆ banded candidates; reported Jaccard is the exact set
  * Jaccard) and observable hot-bucket truncation. */
class DedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-dedup-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))
    .cache()

  test("verified pairs are a subset of banded candidates, all above threshold") {
    val cand = DedupJobs.candidatePairs(docs, numHashes = 8, bands = 4, bucketCap = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ver = DedupJobs.minhashVerified(docs, numHashes = 8, bands = 4,
      bucketCap = 200, jaccardThreshold = 0.5).collect()
    assert(ver.nonEmpty, "expected near-duplicates in the synthetic corpus")
    ver.foreach { r =>
      val pair = (r.getLong(0), r.getLong(1))
      assert(cand.contains(pair), s"verified pair $pair not in candidates")
      assert(r.getDouble(2) >= 0.5, s"pair $pair below threshold: ${r.getDouble(2)}")
    }
  }

  test("reported jaccard equals the exact distinct-token-set jaccard") {
    val sample = DedupJobs.minhashVerified(docs, 8, 4, 200, 0.5).limit(5).collect()
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def tokSet(id: Long): Set[String] =
      "[a-z0-9]+".r.findAllIn(texts(id).toLowerCase).toSet
    sample.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (sa, sb) = (tokSet(a), tokSet(b))
      val expect = (sa intersect sb).size.toDouble / (sa union sb).size
      assert(math.abs(r.getDouble(2) - expect) < 1e-12,
        s"pair ($a,$b): got ${r.getDouble(2)}, exact $expect")
    }
  }

  test("in-row verify == legacy token-explode verify, full output") {
    // the in-row array_intersect verify must emit EXACTLY the pairs and
    // jaccards of the explode-join form it replaced (stated inline here
    // as the reference implementation)
    val cand = DedupJobs.candidatePairs(docs, 8, 4, 200)
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val tokSets = docs.join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        explode(array_distinct(DedupJobs.tokens(col("text")))).as("tok"))
    val sizes = tokSets.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(tokSets.select(col("doc_id").as("doc_a"), col("tok")), Seq("doc_a"))
      .join(tokSets.select(col("doc_id").as("doc_b"), col("tok")), Seq("doc_b", "tok"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    val legacy = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = DedupJobs.minhashVerifiedPairs(docs, 8, 4, 200, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    DedupJobs.releaseCached()
    assert(got.nonEmpty && got == legacy)
  }

  test("capped ngram-jaccard: hot shingles carry no pairs, rare shingles still match") {
    import spark.implicits._
    // every doc shares the hot phrase; only docs 1 and 2 share rare content
    val hotPhrase = "all rights reserved standard disclaimer text"
    val d = Seq(
      (1L, "en", s"zebra quartz xylophone unique alpha $hotPhrase"),
      (2L, "en", s"zebra quartz xylophone unique alpha $hotPhrase"),
      (3L, "en", s"different content entirely here $hotPhrase"),
      (4L, "en", s"yet another unrelated body of text $hotPhrase"),
      (5L, "en", s"fifth document with its own words $hotPhrase")
    ).toDF("doc_id", "lang", "text")
    // cap 2: shingles in >2 docs (the hot phrase, in all 5) are dropped
    val pairs = DedupJobs.ngramJaccardCapped(d, n = 3, dfCap = 2, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)),
      s"only the rare-content pair should survive the cap, got ${pairs.toSeq}")
  }

  test("ngram shingle kernel path == composed transform/substr form, edge docs included") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the exact expression swap inside ngramJaccardCapped: char_ngrams for
    // len >= n, the single short window for len < n (old
    // sequence(1, greatest(len-2, 1)) semantics), null propagation
    val texts: Seq[String] = Seq(
      "zebra quartz xylophone", "ab", "a", "", "早安世界早安", "xy早z",
      "the   spaced   text", null) ++
      (0 until 20).map(i => new scala.util.Random(100 + i).alphanumeric
        .take(60).mkString)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        lower(regexp_replace(col("text"), "\\s+", " ")).as("nt"))
    val n = 3
    val kernelForm = when(length(col("nt")) < n, array(col("nt")))
      .otherwise(array_distinct(
        graft.plans.TextHashExprs.char_ngrams(col("nt"), lit(n))))
    val composedForm = array_distinct(transform(
      sequence(lit(1), greatest(length(col("nt")) - (n - 1), lit(1))),
      i => col("nt").substr(i, lit(n))))
    val rows = df.select(col("doc_id"), col("nt"), kernelForm.as("a"), composedForm.as("b"))
      .orderBy("doc_id").collect()
    rows.foreach { r =>
      if (r.isNullAt(1)) {
        // KNOWN immaterial difference on null text: the composed form's
        // greatest() skips the null length and yields [null] where the
        // kernel form null-propagates — both explode to zero usable
        // shingle rows (a null g never matches an equi-join key), so the
        // operator's output is identical; the operator-level test below
        // pins that.
        assert(r.isNullAt(2) && r.getSeq[String](3) == Seq(null))
      } else assert(r.getSeq[String](2) == r.getSeq[String](3),
        s"doc ${r.getLong(0)}: ${r.get(2)} != ${r.get(3)}")
    }
    // operator level: a null-text doc changes nothing
    val base = Seq((1L, "en", "zebra quartz xylophone unique"),
      (2L, "en", "zebra quartz xylophone unique"))
    val withNull = base :+ (3L, "en", null.asInstanceOf[String])
    val p1 = DedupJobs.ngramJaccardCapped(base.toDF("doc_id", "lang", "text"),
      n = 3, dfCap = 10, threshold = 0.6).collect().toSeq
    val p2 = DedupJobs.ngramJaccardCapped(withNull.toDF("doc_id", "lang", "text"),
      n = 3, dfCap = 10, threshold = 0.6).collect().toSeq
    assert(p1 == p2 && p1.nonEmpty)
  }

  test("hot-bucket cap drops pairs observably, never silently") {
    import spark.implicits._
    // 20 identical docs form one hot bucket per band; 2 distinct outliers.
    val hot = (0L until 20L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
    val rest = Seq((100L, "completely different text about contracts and invoices"),
      (101L, "another unrelated document concerning shipping manifests"))
    val d = (hot ++ rest).toDF("doc_id", "text")

    val dropped = DedupJobs.droppedBuckets(d, numHashes = 8, bands = 4, bucketCap = 10)
      .collect()
    assert(dropped.nonEmpty, "over-cap buckets must be reported")
    assert(dropped.forall(_.getLong(2) == 20), "each hot bucket holds the 20 clones")

    val capped = DedupJobs.candidatePairs(d, 8, 4, bucketCap = 10).count()
    val uncapped = DedupJobs.candidatePairs(d, 8, 4, bucketCap = 30).count()
    assert(capped == 0, s"capped run must drop the hot bucket's pairs, got $capped")
    assert(uncapped == 20L * 19 / 2, s"uncapped run keeps all clone pairs, got $uncapped")
  }

  test("connected components: chain, clique, pair — min-id labels and canonicals") {
    import spark.implicits._
    // chain 1-2-3-4, triangle 10-11-12, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("doc_a", "doc_b")
    // run BOTH dispatch paths: the driver-local union-find (default) and
    // the distributed loop (driverEdgeLimit = 0) must be indistinguishable
    for (limit <- Seq(500000L, 0L)) {
      val out = DedupJobs.connectedComponents(pairs, driverEdgeLimit = limit)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
      DedupJobs.releaseCached()
      assert(out.keySet == Set(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L))
      Seq(1L, 2L, 3L, 4L).foreach(id => assert(out(id) == (1L, 4L, if (id == 1L) 1 else 0)))
      Seq(10L, 11L, 12L).foreach(id => assert(out(id) == (10L, 3L, if (id == 10L) 1 else 0)))
      Seq(20L, 21L).foreach(id => assert(out(id) == (20L, 2L, if (id == 20L) 1 else 0)))
      // an empty pair table: the path decision and the loop's convergence
      // are observed on cuts over no rows, and every observation must
      // report (a lost one would block its `get` forever)
      val none = Await.result(Future(DedupJobs.connectedComponents(
        pairs.filter(col("doc_a") < 0), driverEdgeLimit = limit).collect()), 5.minutes)
      DedupJobs.releaseCached()
      assert(none.isEmpty)
    }
  }

  test("components fast path == distributed loop on a random graph, schema included") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val pairs = (0 until 400).map(_ => (rng.nextInt(120).toLong, rng.nextInt(120).toLong))
      .filter { case (a, b) => a != b }.toDF("doc_a", "doc_b")
    val fast = DedupJobs.connectedComponents(pairs)
    val dist = DedupJobs.connectedComponents(pairs, driverEdgeLimit = 0L)
    assert(fast.schema == dist.schema,
      s"paths must emit one schema: ${fast.schema} vs ${dist.schema}")
    val f = fast.collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    val d = dist.collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    DedupJobs.releaseCached()
    assert(f == d, "fast and distributed components disagree")
  }

  test("connected components: pointer jumping converges a 64-hop chain in few rounds") {
    import spark.implicits._
    // a pure chain is the adversarial diameter case: plain label propagation
    // needs 64 rounds; neighbor-min + path halving must do it well under the
    // default cap of 25
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // driverEdgeLimit = 0 forces the distributed loop — it is the unit
    // under test here (the default would solve this driver-locally)
    val out = DedupJobs.connectedComponents(chain, maxIter = 25,
      driverEdgeLimit = 0L).collect()
    DedupJobs.releaseCached()
    assert(out.length == 65)
    assert(out.forall(_.getLong(1) == 0L), "every chain node labels to the min id")
    assert(out.forall(_.getLong(2) == 65L))
    // and an impossible round budget must throw, not silently truncate
    val err = intercept[IllegalArgumentException] {
      DedupJobs.connectedComponents(chain, maxIter = 1, driverEdgeLimit = 0L).collect()
    }
    DedupJobs.releaseCached()
    assert(err.getMessage.contains("did not converge"))
  }

  test("connected components over verified minhash pairs partition the pair graph") {
    val pairs = DedupJobs.minhashVerified(docs, 8, 4, 200, jaccardThreshold = 0.9)
      .select(col("doc_a"), col("doc_b"))
    val pairRows = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val comp = DedupJobs.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    DedupJobs.releaseCached()
    assert(pairRows.nonEmpty && comp.nonEmpty)
    // every endpoint is labeled; both endpoints of a pair share a component;
    // every component is named by its minimum member, which is canonical
    pairRows.foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"pair ($a,$b) split across components")
    }
    comp.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min == c, s"component $c not named by its min member")
    }
  }

  test("every frequency cap keeps a key held by exactly cap docs and drops one held by cap + 1") {
    import spark.implicits._
    val cap = 3
    // `cap` clones of one text and `cap + 1` clones of a text sharing no
    // token, trigram or shingle with it: every key of the first group is
    // held by exactly `cap` docs, every key of the second by `cap + 1`
    val atCap = "alpha beta gamma delta"
    val overCap = "one two three four"
    val d = ((1L to cap).map(_ -> atCap) ++ (11L to 11L + cap).map(_ -> overCap))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val atCapPairs = (for (a <- 1L to cap; b <- a + 1 to cap) yield (a, b)).toSet
    // decontamination: one test doc per text (test split: doc_id % 1000 == 0)
    val withTests = d.unionByName(
      Seq((1000L, atCap, "en"), (2000L, overCap, "en")).toDF("doc_id", "text", "lang"))
    // incremental probe: the cap is on index + new rows — 2 + 1 for the
    // first text, 2 + 2 for the second
    val idx = java.nio.file.Files.createTempDirectory("cap_boundary_idx").toString
    DedupJobs.buildMinhashIndex(d.filter(col("doc_id").isin(1L, 2L, 11L, 12L)), idx)
    val probe = d.filter(col("doc_id").isin(3L, 13L, 14L))
    val cases: Seq[(String, () => Any, Any)] = Seq(
      ("LSH bucket cap: candidatePairs",
        () => pairs(DedupJobs.candidatePairs(d, 8, 4, bucketCap = cap)), atCapPairs),
      ("LSH bucket cap: droppedBuckets (bucket size per band)",
        () => DedupJobs.droppedBuckets(d, 8, 4, bucketCap = cap)
          .collect().map(_.getLong(2)).toSeq, Seq.fill(4)(cap + 1L)),
      ("ngram dfCap",
        () => pairs(DedupJobs.ngramJaccardCapped(d, n = 3, dfCap = cap, threshold = 0.6)),
        atCapPairs),
      ("Decontaminate maxDf",
        () => Decontaminate.contaminated(withTests, k = 4, testMod = 1000L, maxDf = cap)
          .collect().map(_.getLong(0)).toSet, (1L to cap).toSet),
      ("dedupAgainstIndex combined cap",
        () => pairs(DedupJobs.dedupAgainstIndex(spark, idx, probe, d, bucketCap = cap)),
        Set((1L, 3L), (2L, 3L))))
    try cases.foreach { case (name, run, expected) =>
      assert(run() == expected, name)
    } finally DedupJobs.releaseCached()
  }

  test("releaseCached frees every intermediate the dedup family persists") {
    import spark.implicits._
    // suites share one session and its cache: start from an empty one
    spark.catalog.clearCache()
    def persistentRdds = spark.sparkContext.getPersistentRDDs.keySet
    val before = persistentRdds
    val dir = java.nio.file.Files.createTempDirectory("release_cached").toString
    (0L until 40L).map(i => (i, s"document ${i % 7} shares these words with its near twins", "en"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$dir/documents.parquet")
    val d = spark.read.parquet(s"$dir/documents.parquet")
    DedupJobs.buildMinhashIndex(d, s"$dir/index")
    val records = ExtractJob.extractRecords(spark, CorpusGen.generate(spark, 12, 2), 2).toDF()
    Seq(
      DedupJobs.minhashVerifiedPairs(d.select(col("doc_id"), col("text"))),
      DedupJobs.candidatePairs(d, 8, 4, 200),
      DedupJobs.ngramJaccardCapped(d),
      Decontaminate.contaminated(d, k = 4, testMod = 97L, maxDf = 50L),
      SubstrDedup.dedupText(d),
      SparkEntry.queries("q_dedup_minhash")(spark, dir),
      KgJob.edges(records),
      DedupJobs.dedupAgainstIndex(spark, s"$dir/index", d.filter(col("doc_id") < 10), d)
    ).foreach(_.write.format("noop").mode("overwrite").save())
    assert(!spark.sharedState.cacheManager.isEmpty, "the entry points persist intermediates")
    assert(persistentRdds != before, "the entry points persist and cut intermediates")
    DedupJobs.releaseCached()
    // checkpointed cuts are RDDs outside the cache manager. Another suite's
    // unreferenced RDD may be cleaned up meanwhile and leave `before`, so
    // the check is that no RDD the calls persisted is left
    val left = persistentRdds -- before
    assert(left.isEmpty, s"persisted RDDs left after releaseCached: $left")
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
