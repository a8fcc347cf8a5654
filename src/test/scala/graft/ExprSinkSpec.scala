package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{Cleaners, ExtractAll}
import graft.pipeline.{DocsSource, RecordsSink}
import graft.plans.CleanMarginIndexExpr

class ExprSinkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-expr-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("clean_margin_index expression equals the kernel function (Column + SQL)") {
    import spark.implicits._

    val docs = DocsSource.fixtureJson(spark, "src/test/resources/fixtures/docs/*/*.json")
    val texts = docs.map(d => ExtractAll.fullText(d)).toDF("raw")
    texts.createOrReplaceTempView("raw_texts")

    // Column API
    val viaExpr = texts
      .select(CleanMarginIndexExpr.clean_margin_index(col("raw")).as("cleaned"), col("raw"))
      .collect()
    viaExpr.foreach { r =>
      assert(r.getString(0) == Cleaners.cleanPdfIndexArtifacts(r.getString(1)))
    }
    // the margin-index fixtures must actually exercise the cut
    assert(viaExpr.exists(r => r.getString(0).length < r.getString(1).length),
      "no fixture was cleaned — expression not exercised")

    // SQL form
    graft.plans.NativeFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT clean_margin_index(raw) AS cleaned, raw FROM raw_texts").collect()
    viaSql.foreach { r =>
      assert(r.getString(0) == Cleaners.cleanPdfIndexArtifacts(r.getString(1)))
    }

    // stays inside whole-stage codegen (no CodegenFallback wrapper)
    val plan = texts
      .select(CleanMarginIndexExpr.clean_margin_index(col("raw")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback"), plan)
  }

  test("records JSON/CSV sinks round-trip and reference-style rendering") {
    import spark.implicits._
    val docs = DocsSource.fixtureJson(spark, "src/test/resources/fixtures/docs/hca_between/*.json")
    val records = docs.mapPartitions(_.flatMap(ExtractAll.extractRecord))
    val n = records.count()

    val base = Files.createTempDirectory("graft-sink").toString
    RecordsSink.writeJson(records.toDF(), s"$base/json")
    RecordsSink.writeCsv(records.toDF().select(
      col("doc_id"), col("case_number"), col("plaintiff"), col("language")), s"$base/csv")
    assert(spark.read.json(s"$base/json").count() == n)
    assert(spark.read.option("header", "true").csv(s"$base/csv").count() == n)

    val text = RecordsSink.referenceStyleJson(records)
    // must parse as a JSON array of n objects with the reference key order
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.readTree(text)
    assert(arr.isArray && arr.size() == n)
    val firstKeys = {
      val it = arr.get(0).fieldNames()
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    assert(firstKeys.take(15) == RecordsSink.referenceKeyOrder)
  }

  test("Excel-compatible CSV export: UTF-8 BOM, CRLF, quoted fields (S6)") {
    import spark.implicits._
    val df = Seq(
      ("a, with comma", "quote \" inside", "中文值"),
      ("plain", null.asInstanceOf[String], "x")
    ).toDF("c1", "c2", "c3")
    val out = Files.createTempDirectory("graft-xlsx").resolve("export.csv").toString
    RecordsSink.writeExcelCompatibleCsv(df, out)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(out))
    assert(bytes(0) == 0xEF.toByte && bytes(1) == 0xBB.toByte && bytes(2) == 0xBF.toByte,
      "must start with the UTF-8 BOM (reference writes utf-8-sig)")
    val text = new String(bytes, "UTF-8").stripPrefix("\ufeff")
    val lines = text.split("\r\n", -1)
    assert(lines(0) == "\"c1\",\"c2\",\"c3\"")
    assert(lines(1) == "\"a, with comma\",\"quote \"\" inside\",\"中文值\"")
    assert(lines(2) == "\"plain\",\"\",\"x\"")
    assert(lines.length == 4 && lines(3).isEmpty, "one CRLF per row, file ends with CRLF")
  }
}
