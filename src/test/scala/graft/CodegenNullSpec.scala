package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.FeedExprs.{feed_entries, feed_kind}
import graft.plans.OfficeExprs.{office_kind, office_text}
import graft.plans.UnicodeNorm.unicode_norm
import graft.plans.UrlExprs.{url_host, url_registrable_domain}

/** Null-result discipline under WHOLE-STAGE CODEGEN for the native
  * expressions whose kernels return null on NON-NULL input (unrecognized
  * container / not-a-feed / unknown normalization form / not a
  * hierarchical URL).
  *
  * The trap this pins: `defineCodeGen` leaves `isNull = false` when only
  * the child was null-checked, so a kernel returning null made any
  * downstream consumer (md5, length, ...) NPE inside the generated code.
  * `Seq(...).toDF` plans are collapsed by ConvertToLocalRelation into
  * interpreted eval and never see the bug — these tests derive the input
  * from `spark.range`, which keeps the projection inside
  * WholeStageCodegen (asserted on the plan). */
class CodegenNullSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-codegen-null-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def assertCodegen(df: org.apache.spark.sql.DataFrame): Unit = {
    // `*(n)` prefixes in the executed plan's string form mark operators
    // fused into a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
  }

  test("office_kind/office_text yield NULL (not an NPE) for junk bytes in codegen") {
    // junk bytes for even ids, null child for odd — both must come out null,
    // and the downstream md5/length must not NPE on the non-null-child rows
    val df = spark.range(8).select(
        when(col("id") % 2 === 0, lit(Array[Byte](1, 2, 3, 4)))
          .otherwise(lit(null).cast("binary")).as("b"))
      .select(
        office_kind(col("b")).as("k"),
        office_text(col("b")).as("t"))
      .select(col("k"), col("t"), md5(col("k")).as("mk"), length(col("t")).as("lt"))
    assertCodegen(df)
    val rows = df.collect()
    assert(rows.length == 8)
    rows.foreach { r => assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3)) }
  }

  test("feed_kind yields NULL for non-feed text in codegen") {
    val df = spark.range(6).select(
        concat(lit("plain text, not xml #"), col("id")).as("s"))
      .select(feed_kind(col("s")).as("k"))
      .select(col("k"), md5(col("k")).as("mk"))
    assertCodegen(df)
    df.collect().foreach { r => assert(r.isNullAt(0) && r.isNullAt(1)) }
  }

  test("unicode_norm yields NULL for an unknown form in codegen") {
    val df = spark.range(6).select(
        concat(lit("café #"), col("id")).as("s"))
      .select(
        unicode_norm(col("s"), "NFX").as("bad"),
        unicode_norm(col("s"), "NFC").as("good"))
      .select(col("bad"), md5(col("bad")).as("mb"), col("good"))
    assertCodegen(df)
    df.collect().foreach { r =>
      assert(r.isNullAt(0) && r.isNullAt(1))
      assert(r.getString(2).contains("café"))
    }
  }

  test("url_host yields NULL for a non-hierarchical URL in codegen") {
    val urls = spark.range(6).select(concat(lit("mailto:a"), col("id")).as("u"))
    // a bare projection: the row writer itself must see the null
    val bare = urls.select(url_host(col("u")).as("h"))
    assertCodegen(bare)
    bare.collect().foreach { r => assert(r.isNullAt(0)) }
    val domain = urls.select(
      url_registrable_domain(url_host(col("u"))).as("d"))
    assertCodegen(domain)
    domain.collect().foreach { r => assert(r.isNullAt(0)) }
  }

  test("feed_entries yields NULL for non-feed text of a non-nullable column in codegen") {
    val df = spark.range(6).select(
        concat(lit("plain text, not xml #"), col("id")).as("s"))
      .select(feed_entries(col("s")).as("e"))
      .select(col("e"), size(col("e")).as("n"))
    assertCodegen(df)
    df.collect().foreach { r => assert(r.isNullAt(0) && r.isNullAt(1)) }
  }
}
