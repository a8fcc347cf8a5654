package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.AnnJobs

class AnnSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ann-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("IVF top-k overlaps brute-force top-k (recall@5 over probed cells)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val isQuery = col("vec_id") < 20

    val brute = AnnJobs.bruteForceTopK(spark, emb, isQuery, k = 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    def ivfAt(nprobe: Int): Map[Long, Set[Long]] =
      AnnJobs.ivfTopK(spark, emb, isQuery, k = 5, nlist = 8, nprobe = nprobe)
        .collect()
        .groupBy(_.getAs[Long]("q_id"))
        .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    def recallOf(ivf: Map[Long, Set[Long]]): Double =
      brute.keys.toSeq.map(q => (ivf(q) intersect brute(q)).size.toDouble / brute(q).size)
        .sum / brute.size

    val ivf2 = ivfAt(2)
    val ivf8 = ivfAt(8)
    assert(ivf2.keySet == brute.keySet)
    ivf2.values.foreach(s => assert(s.size == 5))
    // probing ALL cells must recover brute force exactly
    assert(recallOf(ivf8) == 1.0, "nprobe = nlist must equal brute force")
    // partial probing trades recall for candidate volume but stays useful
    val r2 = recallOf(ivf2)
    assert(r2 > 0.2 && r2 < 1.0, f"recall@5 with nprobe=2/8: $r2%.2f")
  }

  test("sample-trained quantizer (the 100-TB path) keeps IVF recall properties") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val isQuery = col("vec_id") < 20
    val brute = AnnJobs.bruteForceTopK(spark, emb, isQuery, k = 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    // force sampling: train on ~1/4 of the table
    val total = emb.count()
    val ivf = AnnJobs.ivfTopK(spark, emb, isQuery, k = 5, nlist = 8,
      nprobe = 8, maxTrainRows = total / 4).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    // probing all cells recovers brute force regardless of where the
    // sampled centroids landed
    val recall = brute.keys.toSeq
      .map(q => (ivf(q) intersect brute(q)).size.toDouble / brute(q).size)
      .sum / brute.size
    assert(recall == 1.0, f"sampled-training recall at nprobe=nlist: $recall%.2f")
  }

  test("int8 quantization: tinyint storage, bounded error, high top-k recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    val qd = emb.select(col("vec_id"), col("embedding"),
      AnnJobs.int8Quantize(col("embedding")).as("qs"))
    // storage claim: the quantized codes really are 1-byte elements
    val qField = qd.schema("qs").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("q").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
    assert(qField.elementType == org.apache.spark.sql.types.ByteType,
      s"quantized codes must be array<tinyint>, got $qField")

    // element-wise reconstruction error bound: |x - deq(x)| <= maxabs/254
    val err = qd.select(
      greatest(aggregate(
        zip_with(col("embedding"), AnnJobs.int8Dequantize(col("qs")),
          (x, d) => abs(x.cast("double") - d)),
        lit(0.0), (acc, v) => greatest(acc, v))
        - col("qs.maxabs") / lit(254.0), lit(0.0)).as("excess"))
      .agg(max(col("excess"))).head.getDouble(0)
    assert(err < 1e-12, s"reconstruction error exceeded maxabs/254 by $err")

    // ranking on dequantized vectors stays close to the exact ranking
    val isQuery = col("vec_id") < 20
    val brute = AnnJobs.bruteForceTopK(spark, emb, isQuery, k = 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    val quant = AnnJobs.quantizedTopK(emb, isQuery, k = 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    assert(quant.keySet == brute.keySet)
    val recall = brute.keys.toSeq
      .map(q => (quant(q) intersect brute(q)).size.toDouble / brute(q).size)
      .sum / brute.size
    assert(recall >= 0.8, f"int8 top-5 recall vs exact: $recall%.2f")
  }

  test("ivfQuantizedTopK at nprobe = nlist equals the all-pairs quantized ranking") {
    // With every cell probed the candidate set is the full corpus, so each
    // IVF path must reproduce its all-pairs baseline row for row, `sim` and
    // `rn` included (same dequantize math, same 4dp cosine, same id
    // tiebreak): int8 against the quantized baseline, float against brute
    // force. No oracle checks these rows-only paths, so this pins their
    // cosine.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val isQuery = col("vec_id") < 20
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    val base = rows(AnnJobs.quantizedTopK(emb, isQuery, k = 5))
    val ivf = rows(AnnJobs.ivfQuantizedTopK(spark, emb, isQuery, k = 5,
      nlist = 8, nprobe = 8))
    assert(base.size == 100)
    assert(ivf == base, "full-probe IVF-quantized must equal the quantized baseline")
    val brute = rows(AnnJobs.bruteForceTopK(spark, emb, isQuery, k = 5))
    val ivfFloat = rows(AnnJobs.ivfTopK(spark, emb, isQuery, k = 5,
      nlist = 8, nprobe = 8))
    assert(brute.size == 100)
    assert(ivfFloat == brute, "full-probe float IVF must equal brute force")
  }

  test("probeIndex over a persisted index row-equals the fused ivfQuantizedTopK") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val isQuery = col("vec_id") < 20
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_idx").toString
    AnnJobs.buildIndex(spark, emb, dir, nlist = 8)
    val probe = AnnJobs.probeIndex(spark, dir,
      emb.filter(isQuery).select(col("vec_id"), col("embedding")),
      k = 5, nprobe = 2).collect().toSeq.map(_.toSeq)
    val fused = AnnJobs.ivfQuantizedTopK(spark, emb, isQuery, k = 5,
      nlist = 8, nprobe = 2).collect().toSeq.map(_.toSeq)
    assert(probe == fused,
      "index-then-probe must reproduce the fused path row-for-row")
  }

  test("random-hyperplane LSH beats axis-aligned sign bits on a correlated-dims corpus") {
    // Adversarial fixture (round-4 verdict #5): similarity lives in dims
    // 9..64 (10 well-separated ±1 cluster centers, tiny point noise); dims
    // 1..8 are pure noise. Axis-aligned signBucket keys on exactly those
    // noise dims, scattering each cluster across 2^nBits buckets at
    // random; random hyperplanes mix every dimension, so same-cluster
    // points mostly share their sign pattern.
    import spark.implicits._
    val rnd = new scala.util.Random(123)
    val centers = Array.fill(10, 56)(if (rnd.nextBoolean()) 1.0f else -1.0f)
    val rows = (0 until 200).map { i =>
      val c = centers(i % 10)
      val noise8 = Array.fill(8)(((rnd.nextDouble() - 0.5) * 0.6).toFloat)
      val sig = c.map(v => v + ((rnd.nextDouble() - 0.5) * 0.04).toFloat)
      (i.toLong, (noise8 ++ sig).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val isQuery = col("vec_id") < 10
    val brute = AnnJobs.bruteForceTopK(spark, emb, isQuery, k = 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().groupBy(_.getAs[Long]("q_id"))
        .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
      brute.keys.toSeq.map(q =>
        (got.getOrElse(q, Set.empty[Long]) intersect brute(q)).size.toDouble / brute(q).size)
        .sum / brute.size
    }
    val axis = recallOf(AnnJobs.lshQuantizedTopK(emb, isQuery, k = 5, nBits = 4))
    val hyper = recallOf(AnnJobs.hyperplaneQuantizedTopK(emb, isQuery,
      dim = 64, k = 5, nBits = 4, seed = 7L))
    assert(hyper > axis,
      f"hyperplane recall $hyper%.2f must beat axis-aligned $axis%.2f on correlated dims")
    assert(axis < 0.5, f"fixture must actually break axis-aligned buckets (got $axis%.2f)")
    assert(hyper >= 0.5, f"hyperplane recall too low: $hyper%.2f")
  }

  test("hyperplaneQuantizedTopK matches lshQuantizedTopK's recall on the real corpus") {
    // On the benign synthetic corpus the hyperplane form must not LOSE
    // recall vs the axis-aligned form (both measured against brute force).
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val isQuery = col("vec_id") < 20
    val brute = AnnJobs.bruteForceTopK(spark, emb, isQuery, k = 3).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().groupBy(_.getAs[Long]("q_id"))
        .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
      brute.keys.toSeq.map(q =>
        (got.getOrElse(q, Set.empty[Long]) intersect brute(q)).size.toDouble / brute(q).size)
        .sum / brute.size
    }
    val axis = recallOf(AnnJobs.lshQuantizedTopK(emb, isQuery, k = 3))
    val hyper = recallOf(AnnJobs.hyperplaneQuantizedTopK(emb, isQuery, dim = 64, k = 3))
    assert(hyper >= axis - 0.15,
      f"hyperplane recall $hyper%.2f collapsed vs axis-aligned $axis%.2f")
  }

  test("lshQuantizedTopK keeps high recall vs the exact (unquantized) LSH ranking") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val isQuery = col("vec_id") < 20
    // rebuild the exact (unquantized) within-bucket ranking for the same query set
    val bucket = AnnJobs.signBucket(col("embedding"))
    val withB = emb.withColumn("bucket", bucket)
    val q = withB.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("bucket"))
    val c = withB.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("bucket"))
    val dotExpr = (x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =>
      aggregate(zip_with(x, y, (a, b) => a.cast("double") * b.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(desc("sim"), col("n_id"))
    val exactTopK = q.join(c, Seq("bucket")).filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", round(
        dotExpr(col("q_emb"), col("n_emb")) /
          (sqrt(dotExpr(col("q_emb"), col("q_emb"))) * sqrt(dotExpr(col("n_emb"), col("n_emb")))), 4))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") <= 3)
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getAs[Long]("q_id"))
        .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    val ex = sets(exactTopK)
    val quant = sets(AnnJobs.lshQuantizedTopK(emb, isQuery, k = 3))
    assert(quant.keySet == ex.keySet)
    val recall = ex.keys.toSeq
      .map(k => (quant(k) intersect ex(k)).size.toDouble / ex(k).size)
      .sum / ex.size
    assert(recall >= 0.8, f"LSH int8 top-3 recall vs exact LSH: $recall%.2f")
  }
}
