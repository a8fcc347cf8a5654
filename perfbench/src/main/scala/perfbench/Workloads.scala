package perfbench

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.extract.{ExtractAll, LangDoc}
import graft.model.{CaseRecord, Doc}
import graft.pipeline._
import graft.plans.TextHashExprs

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, heap: String, work: String, traceOut: String,
                        tiny: Boolean)

/** Statistics of a staged input. Staging is repeated during set-up and
  * every repetition must give the same fingerprint (same seed, same input). */
final case class Fingerprint(docs: Long, spans: Long, chars: Long, giants: Long, zh: Long,
                             digest: Long) {
  def describe: String =
    f"docs=$docs spans=$spans chars=$chars giant_share=${giants.toDouble / docs}%.4f " +
      f"zh_share=${zh.toDouble / docs}%.4f digest=$digest"
}

final class CheckFailed(msg: String) extends Exception(msg)

object Workload {
  /** Documents with at least this many characters count as giants: the
    * generator's normal judgments stay under 20k, its oversized ones run
    * to 150+ pages. */
  val GiantChars = 65536L

  def apply(spark: SparkSession, cfg: Config): Workload = cfg.workload match {
    case "extract" => new ExtractWorkload(spark, cfg)
    case "curate" => new CurateWorkload(spark, cfg)
    case "ingest_graph" => new IngestGraphWorkload(spark, cfg)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-independent digest of every row, over all columns except maps
    * (Spark refuses to hash a map: equal maps may hash differently). */
  def digest(df: DataFrame): Column = {
    val cols = df.schema.fields.toIndexedSeq
      .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(f => col(s"`${f.name}`"))
    coalesce(sum(pmod(xxhash64(cols: _*), lit(Int.MaxValue.toLong))), lit(0L))
  }

  /** Runs `df` into the noop sink, observing its row count and digest in
    * the same pass. */
  def noopCount(df: DataFrame, name: String): (Long, Long) = {
    val obs = Observation(name)
    df.observe(obs, count(lit(1)).as("n"), digest(df).as("d"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long], m("d").asInstanceOf[Long])
  }

  /** Extraction outside Spark, with the job's drop-on-exception contract. */
  def extractLocally(docs: Seq[Doc]): (Seq[CaseRecord], Long) = {
    val out = docs.par.map(d =>
      try Right(ExtractAll.extractRecord(d)) catch { case _: Exception => Left(d.doc_id) }).seq
    (out.flatMap(_.toOption.flatten), out.count(_.isLeft).toLong)
  }
}

import Workload._

/** A workload: seeded input staged during set-up, and an operation run in
  * a closed loop by one client. */
abstract class Workload(val spark: SparkSession, val cfg: Config) {
  import spark.implicits._

  def nDocs: Int
  /** Untimed operations run before measuring (counted in set-up). */
  def warmupOps: Int = 1
  /** Generates the seeded input and writes it under `dir`. */
  def stage(dir: String): Unit
  def fingerprint(dir: String): Fingerprint
  /** Expectations computed outside Spark, once, from the staged input. */
  def prepare(dir: String): Unit
  /** One operation. Returns its timed phases in seconds; output checks run
    * outside the phases and throw [[CheckFailed]]. */
  def op(index: Int, t: Tracer): Seq[(String, Double)]
  /** Untimed clean-up before the next operation. */
  def beforeOp(): Unit = ()
  /** The workload's own figures (name, value, unit) from the successful ops. */
  def named(phases: Seq[Map[String, Double]]): Seq[(String, Double, String)]
  /** Untimed layer counts for the traced run: (name, value, unit). */
  def counts(): Seq[(String, Double, String)] = Nil
  /** Extra set-up lines (after the warm-up operations). */
  def describe(): Seq[String] = Nil

  /** Fixed sample for the kernel timings outside Spark. */
  var sample: Seq[Doc] = Nil
  var sampleRecords: Seq[CaseRecord] = Nil
  protected val SampleSize = 200

  protected def setSample(docs: Seq[Doc]): Unit = {
    sample = docs.take(SampleSize)
    sampleRecords = extractLocally(sample)._1
  }

  // --- the judgment corpus as `Doc` rows (extract, ingest_graph) ---------

  protected def stageDocs(path: String): Unit =
    CorpusGen.generate(spark, nDocs, cfg.cores, cfg.seed)
      .write.mode("overwrite").parquet(path)

  protected def docFingerprint(path: String): Fingerprint = {
    val docs = ExtractJob.withDocBytes(DocsSource.parquet(spark, path).toDF())
    val hasHan = exists(col("spans"), s => s.getField("text").rlike("[\\x{4e00}-\\x{9fff}]"))
    val r = docs.agg(count(lit(1)), sum(size(col("spans"))), sum(col("doc_bytes")),
      sum(when(col("doc_bytes") >= GiantChars, 1L).otherwise(0L)),
      sum(when(hasHan, 1L).otherwise(0L)),
      digest(docs.select("doc_id", "spans"))).head()
    Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
  }

  /** (count, digest) of records and of out-spans, extracted outside Spark. */
  protected def expectedDigests(docs: Seq[Doc]): ((Long, Long), (Long, Long), Long) = {
    val (records, errors) = extractLocally(docs)
    val spans = docs.par.map(ExtractAll.outSpans).seq
    def dg(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), digest(df)).head()
      (r.getLong(0), r.getLong(1))
    }
    (dg(records.toDS().toDF()), dg(spans.toDS().toDF()), errors)
  }
}

/** `ExtractJob.extractRecords` then `extractOutSpans` into the noop sink. */
final class ExtractWorkload(s: SparkSession, c: Config) extends Workload(s, c) {
  val nDocs: Int = if (cfg.tiny) 40 else 1000
  override def warmupOps: Int = 4
  /** Several partitions per core, so one slow task does not set the op time. */
  private val partitions = 4 * cfg.cores
  private var docsPath = ""
  private var expRecords = (0L, 0L)
  private var expSpans = (0L, 0L)
  private var dropped = 0L

  def stage(dir: String): Unit = stageDocs(s"$dir/docs")
  def fingerprint(dir: String): Fingerprint = docFingerprint(s"$dir/docs")

  def prepare(dir: String): Unit = {
    docsPath = s"$dir/docs"
    val docs = DocsSource.parquet(spark, docsPath).collect().toSeq.sortBy(_.doc_id)
    val (r, s, e) = expectedDigests(docs)
    expRecords = r; expSpans = s; dropped = e
    setSample(docs)
  }

  def op(index: Int, t: Tracer): Seq[(String, Double)] = {
    val docs = DocsSource.parquet(spark, docsPath)
    val (rec, tRec) = timed(t.call("extract_records")(noopCount(
      ExtractJob.extractRecords(spark, docs, partitions).toDF(), s"records_$index")))
    val (spans, tSpans) = timed(t.call("extract_spans")(noopCount(
      ExtractJob.extractOutSpans(spark, docs, partitions).toDF(), s"spans_$index")))
    check(rec == expRecords, s"records (count, digest) $rec != expected $expRecords")
    check(spans == expSpans, s"out-spans (count, digest) $spans != expected $expSpans")
    Seq("extract_records" -> tRec, "extract_spans" -> tSpans)
  }

  def named(ps: Seq[Map[String, Double]]): Seq[(String, Double, String)] = Seq(
    ("extract_records_docs_per_s", nDocs / Stats.median(ps.map(_("extract_records"))), "docs/s"),
    ("extract_spans_docs_per_s", nDocs / Stats.median(ps.map(_("extract_spans"))), "docs/s"))

  override def describe(): Seq[String] = Seq(
    s"expected records=${expRecords._1} (kernel drops=$dropped) out_spans=${expSpans._1}")
}

/** `q_training_pipeline_neardup` over a rendered `documents.parquet`. */
final class CurateWorkload(s: SparkSession, c: Config) extends Workload(s, c) {
  import spark.implicits._
  val nDocs: Int = if (cfg.tiny) 60 else 400
  override def warmupOps: Int = 2
  private var dir = ""
  private var expected: Option[Seq[Long]] = None
  private var spanCount = 0L
  private var lastDed: DataFrame = _
  private var lastPairs = 0L

  val Columns = Seq("n_input", "n_quality", "n_dedup", "n_neardup", "n_train", "n_chunks", "n_packs")

  def stage(d: String): Unit = {
    val (n, seed) = (nDocs, cfg.seed)
    val obs = Observation("curate_spans")
    spark.range(0, n, 1, cfg.cores).map { i =>
      val doc = CorpusGen.genDoc(i, seed)
      val text = ExtractAll.fullText(doc)
      val lang = if (LangDoc.detectLanguage(text) == "chinese") "zh" else "en"
      (i.longValue, text, lang, doc.doc_id.takeWhile(_.isLetter), text.length.toLong,
        doc.spans.count(_.kind == "text").toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars", "n_spans")
      .observe(obs, sum(col("n_spans")).as("spans"))
      .drop("n_spans")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    spanCount = obs.get("spans").asInstanceOf[Long]
  }

  def fingerprint(d: String): Fingerprint = {
    val t = spark.read.parquet(s"$d/documents.parquet")
    val r = t.agg(count(lit(1)), sum(col("n_chars")),
      sum(when(col("n_chars") >= GiantChars, 1L).otherwise(0L)),
      sum(when(col("lang") === "zh", 1L).otherwise(0L)), digest(t)).head()
    Fingerprint(r.getLong(0), spanCount, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  def prepare(d: String): Unit = {
    dir = d
    setSample((0L until math.min(nDocs, SampleSize)).map(CorpusGen.genDoc(_, cfg.seed)))
    if (!cfg.tiny && cfg.seed == 42L) expected = Some(CurateWorkload.Seed42Row)
  }

  private def summary(row: Row): Seq[Long] = Columns.map(c => row.getAs[Long](c))

  def op(index: Int, t: Tracer): Seq[(String, Double)] = {
    val (got, secs) = timed(
      if (t.enabled) tracedPipeline(t)
      else summary(SparkEntry.queries("q_training_pipeline_neardup")(spark, dir).head()))
    val Seq(nIn, nQ, nDedup, nNear, nTrain, nChunks, nPacks) = got
    check(nIn == nDocs, s"n_input $nIn != $nDocs")
    check(nIn >= nQ && nQ >= nDedup && nDedup >= nNear && nNear >= nTrain,
      s"stage counts not monotone: $got")
    check(nPacks <= nChunks, s"n_packs $nPacks > n_chunks $nChunks")
    expected match {
      case Some(e) => check(got == e, s"summary ${got.mkString(",")} != expected ${e.mkString(",")}")
      case None => expected = Some(got)
    }
    Seq("curate" -> secs)
  }

  /** The same pipeline as `q_training_pipeline_neardup`, one traced call
    * per stage. Each call ends in an eager cut so its jobs run inside its
    * span; the final counts are the operation's uncovered remainder. */
  private def tracedPipeline(t: Tracer): Seq[Long] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    TextHashExprs.register(spark)
    val q = t.call("gopher")(QualityFilters.gopherSignals(docs).filter(col("passes"))
      .select(col("doc_id"), col("text")).localCheckpoint())
    val dedAll = t.call("exact_dedup")(q
      .withColumn("nthash", TextHashExprs.norm_md5(coalesce(col("text"), lit(""))))
      .withColumn("rn", row_number().over(Window.partitionBy(col("nthash")).orderBy(col("doc_id"))))
      .select(col("doc_id"), col("text"), col("rn")).localCheckpoint())
    val ded = dedAll.filter(col("rn") === 1)
    lastDed = ded.select(col("doc_id"), col("text"))
    val pairs = t.call("minhash_pairs")(DedupJobs.minhashVerifiedPairs(lastDed,
      numHashes = 8, bands = 4, bucketCap = 200, jaccardThreshold = 0.9).localCheckpoint())
    val near = t.call("components") {
      val dropIds = DedupJobs.connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
        .filter(col("is_canonical") === 0).select(col("doc_id").cast("long").as("doc_id"))
      ded.select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .join(dropIds, Seq("doc_id"), "left_anti").localCheckpoint()
    }
    val train = t.call("decontaminate") {
      val contam = Decontaminate.contaminated(near, k = 4, testMod = 97L, maxDf = 50L)
        .select(col("doc_id"))
      near.filter(col("doc_id") % 97 =!= 0).join(contam, Seq("doc_id"), "left_anti")
        .localCheckpoint()
    }
    val chunkMeta = t.call("chunk")(ChunkJobs.chunk(train, 32, 8)
      .select(col("doc_id"), col("chunk_id"), col("n_tokens")).localCheckpoint())
    val nPacks = t.call("pack")(ChunkJobs.packMeta(spark, chunkMeta, 100).count())
    lastPairs = pairs.count()
    val d = dedAll.agg(count(lit(1)), sum(when(col("rn") === 1, 1L).otherwise(0L))).head()
    Seq(docs.count(), d.getLong(0), d.getLong(1), near.count(), train.count(),
      chunkMeta.count(), nPacks)
  }

  def named(ps: Seq[Map[String, Double]]): Seq[(String, Double, String)] = Seq(
    ("curate_s", Stats.median(ps.map(_("curate"))), "s"))

  override def describe(): Seq[String] = Seq(
    "summary " + Columns.zip(expected.getOrElse(Nil)).map { case (c, v) => s"$c=$v" }.mkString(" ") +
      " (exact-dup survivors = n_dedup, near-dup survivors = n_neardup)")

  override def counts(): Seq[(String, Double, String)] = {
    val cand = DedupJobs.candidatePairs(lastDed, 8, 4, 200).count()
    val droppedBuckets = DedupJobs.droppedBuckets(lastDed, 8, 4, 200).count()
    DedupJobs.releaseCached()
    Seq(("dedup.candidate_pairs", cand.toDouble, "count"),
      ("dedup.verified_pairs", lastPairs.toDouble, "count"),
      ("dedup.verify_yield", if (cand == 0) 0.0 else lastPairs.toDouble / cand, "ratio"),
      ("dedup.dropped_buckets", droppedBuckets.toDouble, "count")) ++
      Columns.zip(expected.getOrElse(Nil)).map { case (c, v) => (s"curate.$c", v.toDouble, "count") }
  }
}

object CurateWorkload {
  /** Summary row of the full-size input at seed 42, in [[CurateWorkload.Columns]] order. */
  val Seed42Row: Seq[Long] = Seq(400L, 340L, 340L, 325L, 25L, 2203L, 743L)
}

/** `ExtractJob.runResumable` into a fresh directory, then the report and
  * the knowledge graph read back from the written records. */
final class IngestGraphWorkload(s: SparkSession, c: Config) extends Workload(s, c) {
  val nDocs: Int = if (cfg.tiny) 40 else 200
  val Buckets = 32
  private var docsPath = ""
  private var outRoot = ""
  private var expRecords = (0L, 0L)
  /** (nodes, nodes digest, edges, edges digest) of the first operation. */
  private var graph: Option[Seq[Long]] = None
  private var lastOut = ""

  def stage(dir: String): Unit = stageDocs(s"$dir/docs")
  def fingerprint(dir: String): Fingerprint = docFingerprint(s"$dir/docs")

  def prepare(dir: String): Unit = {
    docsPath = s"$dir/docs"
    outRoot = s"$dir/out"
    val docs = DocsSource.parquet(spark, docsPath).collect().toSeq.sortBy(_.doc_id)
    expRecords = expectedDigests(docs)._1
    setSample(docs)
  }

  private def fs(path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  override def beforeOp(): Unit = if (lastOut.nonEmpty) {
    val (f, p) = fs(lastOut)
    f.delete(p, true)
    lastOut = ""
  }

  def op(index: Int, t: Tracer): Seq[(String, Double)] = {
    val out = s"$outRoot/op-$index"
    lastOut = out
    val docs = DocsSource.parquet(spark, docsPath)
    val (lineage, tWrite) = timed(t.call("resumable_write")(
      ExtractJob.runResumable(spark, docs, out, runId = s"op$index", numBuckets = Buckets)))
    val records = spark.read.parquet(s"$out/records")
    val ((total, fields), tReport) = timed(t.call("report")(
      (ReportJob.summary(records).head().getLong(0),
        ReportJob.fieldCompleteness(records, ReportJob.reportFields).collect().length)))
    val (nodes, tNodes) = timed(t.call("kg_nodes")(noopCount(KgJob.nodes(records), s"nodes_$index")))
    val (edges, tEdges) = timed(t.call("kg_edges")(noopCount(KgJob.edges(records), s"edges_$index")))

    check(lineage.size == Buckets && lineage.map(_.partition_id).toSet.size == Buckets,
      s"${lineage.size} lineage rows for $Buckets buckets")
    check(lineage.map(_.docs).sum == nDocs, s"lineage docs ${lineage.map(_.docs).sum} != $nDocs")
    check(total == expRecords._1, s"report total $total != expected records ${expRecords._1}")
    check(fields == ReportJob.reportFields.size, s"$fields completeness rows")
    val written = records.select(
      Encoders.product[CaseRecord].schema.fieldNames.toIndexedSeq.map(col): _*)
    val got = written.agg(count(lit(1)), digest(written)).head()
    check((got.getLong(0), got.getLong(1)) == expRecords,
      s"written records (${got.getLong(0)}, ${got.getLong(1)}) != expected $expRecords")
    val kg = Seq(nodes._1, nodes._2, edges._1, edges._2)
    graph match {
      case Some(g) => check(g == kg, s"kg (nodes, digest, edges, digest) $kg != $g")
      case None => graph = Some(kg)
    }
    Seq("resumable_write" -> tWrite, "report" -> tReport, "kg_nodes" -> tNodes, "kg_edges" -> tEdges)
  }

  def named(ps: Seq[Map[String, Double]]): Seq[(String, Double, String)] = Seq(
    ("ingest_docs_per_s", nDocs / Stats.median(ps.map(_("resumable_write"))), "docs/s"),
    ("graph_s", Stats.median(ps.map(p => p("report") + p("kg_nodes") + p("kg_edges"))), "s"))

  override def describe(): Seq[String] = Seq(
    s"expected records=${expRecords._1} kg nodes=${graph.map(_(0)).getOrElse(0L)} " +
      s"edges=${graph.map(_(2)).getOrElse(0L)}")

  override def counts(): Seq[(String, Double, String)] = {
    val (f, p) = fs(lastOut)
    val files = scala.collection.mutable.ArrayBuffer.empty[Long]
    val it = f.listFiles(p, true)
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.getName.startsWith("part-")) files += s.getLen
    }
    Seq(("ingest.bytes_written_per_doc", files.sum.toDouble / nDocs, "bytes"),
      ("ingest.files_written", files.size.toDouble, "count"),
      ("kg.nodes", graph.map(_(0)).getOrElse(0L).toDouble, "count"),
      ("kg.edges", graph.map(_(2)).getOrElse(0L).toDouble, "count"))
  }
}
