package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.ExtractAll
import graft.model.{CaseRecord, Doc, OutSpans, PartitionLineage}

/** The production extraction job (north rule):
  *
  *  - **Skew**: per-doc span bytes are computed with a higher-order
  *    `aggregate` (no shuffle); docs above `skewThresholdBytes` are
  *    round-robined across all partitions (`repartition` with no key) so a
  *    range partition never owns several giants, while normal docs get
  *    `repartitionByRange(doc_id)` for balanced, locality-friendly ranges.
  *    The union keeps both children's partitioning (narrow), so the kernel
  *    runs over giants-spread + range-balanced partitions.
  *    (Reference failure mode: one 500-page PDF stalls a worker —
  *    `src/parallel_processor.py:129-152` has no answer to this.)
  *
  *  - **Resume**: docs are bucketed by `pmod(xxhash64(doc_id), numBuckets)`;
  *    the driver processes buckets in waves, writing records partitioned by
  *    bucket with dynamic partition overwrite (a replayed wave overwrites
  *    only its own buckets → idempotent), then appends one lineage row per
  *    bucket. On restart, buckets with status='done' lineage are excluded
  *    via left-anti join — the batch analogue the north rule asks for
  *    (the reference reprocesses everything on rerun; its merge tool
  *    `merge_json_files.py` is the manual workaround).
  */
object ExtractJob {

  val DefaultSkewThresholdBytes: Long = 512 * 1024

  /** Span bytes per doc as a Catalyst expression (no kernel invocation). */
  def withDocBytes(docs: DataFrame): DataFrame =
    docs.withColumn("doc_bytes",
      aggregate(col("spans"), lit(0L), (acc, s) => acc + length(s.getField("text"))))

  /** "Identity keys": for each target partition b in [0, n), a long k_b
    * whose Murmur3 hash (seed 42 — what Spark's HashPartitioning applies to
    * a LongType shuffle key) lands exactly on partition b. Mapping a
    * computed bucket through these keys makes `repartition(n, $"pkey")`
    * place rows on the *intended* partition — identity layout through a
    * plain hash shuffle, no custom Partitioner, no RDD detour. Brute-forced
    * once per n and cached (expected ~n·ln n hash evaluations). */
  private val identityKeyCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  def identityKeys(n: Int): Array[Long] =
    identityKeyCache.computeIfAbsent(n, _ => {
      val keys = new Array[Long](n)
      val found = new Array[Boolean](n)
      var remaining = n
      var v = 0L
      while (remaining > 0) {
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(v, 42)
        val b = ((h % n) + n) % n
        if (!found(b)) { found(b) = true; keys(b) = v; remaining -= 1 }
        v += 1
      }
      keys
    })

  /** Skew-aware partitioning in ONE scan and ONE shuffle:
    *
    *  - normal docs bucket by `xxhash64(doc_id) mod n` (uniform, stable,
    *    cluster-size-independent);
    *  - giants (span bytes ≥ threshold) bucket by
    *    `monotonically_increasing_id() mod n` — scattered across all
    *    partitions regardless of how their doc_ids cluster;
    *  - buckets map through [[identityKeys]] so the hash shuffle places
    *    each bucket on its own partition.
    *
    * Design history (measured in this sandbox, BASELINE.md):
    * `repartitionByRange` costs an extra sampling job that re-executes the
    * child (~6s serial at 50k docs); the earlier two-branch
    * filter/union needed two full source scans. This form is pure Catalyst
    * expressions over a single scan. */
  def partitionForExtraction(spark: SparkSession, docs: Dataset[Doc],
                             numPartitions: Int,
                             skewThresholdBytes: Long = DefaultSkewThresholdBytes): Dataset[Doc] = {
    import spark.implicits._
    val keys = identityKeys(numPartitions)
    val bucket = when(col("doc_bytes") >= skewThresholdBytes,
        pmod(monotonically_increasing_id(), lit(numPartitions.toLong)))
      .otherwise(pmod(xxhash64($"doc_id"), lit(numPartitions.toLong)))
    withDocBytes(docs.toDF())
      .withColumn("pkey", element_at(lit(keys), bucket.cast("int") + 1))
      .repartition(numPartitions, $"pkey")
      .drop("doc_bytes", "pkey")
      .as[Doc]
  }

  private val log = org.slf4j.LoggerFactory.getLogger("graft.pipeline.ExtractJob")

  /** The per-partition kernel of every extraction job (one-shot,
    * resumable and streaming). ST2: a document that throws inside the
    * kernel is dropped, never job-fatal (the reference's continue-on-error
    * contract, `src/parallel_processor.py:142-152`, `src/config.py:176-180`),
    * with one WARN line naming its `doc_id` and the exception. */
  def extractPartition(docs: Iterator[Doc]): Iterator[CaseRecord] =
    docs.flatMap(d =>
      try ExtractAll.extractRecord(d)
      catch { case e: Exception =>
        log.warn(s"extraction dropped doc_id=${d.doc_id}: ${e.getClass.getName}: ${e.getMessage}")
        None
      })

  /** One-shot extraction (no lineage) — the bench/throughput path. */
  def extractRecords(spark: SparkSession, docs: Dataset[Doc],
                     numPartitions: Int): Dataset[CaseRecord] = {
    import spark.implicits._
    partitionForExtraction(spark, docs, numPartitions).mapPartitions(extractPartition)
  }

  def extractOutSpans(spark: SparkSession, docs: Dataset[Doc],
                      numPartitions: Int): Dataset[OutSpans] = {
    import spark.implicits._
    partitionForExtraction(spark, docs, numPartitions)
      .mapPartitions(_.map(ExtractAll.outSpans))
  }

  /** Resumable run. Returns the lineage rows appended by this invocation. */
  def runResumable(spark: SparkSession, docs: Dataset[Doc], outDir: String,
                   runId: String, numBuckets: Int = 32,
                   bucketsPerWave: Int = 8): Seq[PartitionLineage] = {
    import spark.implicits._
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    val lineagePath = s"$outDir/lineage"
    val recordsPath = s"$outDir/records"

    val doneBuckets: Set[Int] =
      if (fsExists(spark, lineagePath)) {
        spark.read.parquet(lineagePath)
          .filter($"run_id" === runId && $"status" === "done")
          .select($"partition_id").as[Int].collect().toSet
      } else Set.empty

    val bucket = pmod(xxhash64($"doc_id"), lit(numBuckets)).cast("int")
    val bucketed = docs.toDF().withColumn("bucket", bucket)

    val appended = Seq.newBuilder[PartitionLineage]
    val remaining = (0 until numBuckets).filterNot(doneBuckets)

    for (wave <- remaining.grouped(bucketsPerWave)) {
      val waveDf = Materialize.cache(bucketed.filter($"bucket".isin(wave: _*)))
      val started = System.currentTimeMillis()

      // a record's doc_id is its doc's, so its bucket is the doc's
      val waveRecords = waveDf.select($"doc_id", $"spans").as[Doc]
        .mapPartitions(extractPartition)
        .withColumn("bucket", bucket)

      // Dynamic overwrite: replaying a killed wave rewrites only its buckets.
      waveRecords.write.mode(SaveMode.Overwrite)
        .partitionBy("bucket").parquet(recordsPath)

      // Per-bucket stats for lineage (docs/spans/bytes + id range).
      val stats = waveDf.groupBy($"bucket").agg(
        count(lit(1)).as("docs"),
        sum(size($"spans")).as("spans"),
        sum(aggregate($"spans", lit(0L), (acc, s) => acc + length(s.getField("text")))).as("bytes"),
        min($"doc_id").as("doc_id_min"),
        max($"doc_id").as("doc_id_max")
      ).collect()

      val finished = System.currentTimeMillis()
      val rows = wave.map { b =>
        val st = stats.find(_.getInt(0) == b)
        PartitionLineage(
          run_id = runId, partition_id = b,
          doc_id_min = st.map(_.getString(4)).getOrElse(""),
          doc_id_max = st.map(_.getString(5)).getOrElse(""),
          docs = st.map(_.getLong(1)).getOrElse(0L),
          spans = st.map(_.getLong(2)).getOrElse(0L),
          bytes = st.map(_.getLong(3)).getOrElse(0L),
          status = "done", started_at = started, finished_at = finished)
      }
      rows.toDS().write.mode(SaveMode.Append).parquet(lineagePath)
      appended ++= rows
      Materialize.free(waveDf)
    }
    appended.result()
  }

  private def fsExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
