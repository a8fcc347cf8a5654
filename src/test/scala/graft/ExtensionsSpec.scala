package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Cleaners
import graft.plans._

/** Both install paths of the native functions: a session built with
  * GraftExtensions, and a plain session after each kernel object's
  * `register`, must resolve every [[NativeFunctions]] entry. */
class ExtensionsSpec extends AnyFunSuite {

  /** Every table entry resolves to its own expression class. */
  private def assertResolvesAll(s: SparkSession): Unit = NativeFunctions.all.foreach { f =>
    val info = s.sessionState.catalog.lookupFunctionInfo(FunctionIdentifier(f.name))
    assert(info.getClassName == f.expressionClass.getName, f.name)
  }

  test("GraftExtensions installs clean_margin_index into a fresh session") {
    // getOrCreate reuses any existing session and ignores the extensions
    // config — drop the shared session first (suites run sequentially).
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-extensions-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import spark.implicits._
      val noisy = ((('A' to 'Z') ++ ('A' to 'Z') ++ ('A' to 'J')).map(_.toString) ++
        Seq("IN THE HIGH COURT OF THE", "ACTION NO 5 OF 2020",
          "x" * 300)).mkString("\n")
      Seq(noisy).toDF("raw").createOrReplaceTempView("noisy_docs")
      val got = spark.sql("SELECT clean_margin_index(raw) AS c FROM noisy_docs")
        .collect()(0).getString(0)
      assert(got == Cleaners.cleanPdfIndexArtifacts(noisy))
      assert(got.length < noisy.length, "margin index should have been cut")

      assertResolvesAll(spark)

      val tri = spark.sql("SELECT char_ngrams('abcd', 3) AS g")
        .collect()(0).getSeq[String](0)
      assert(tri == Seq("abc", "bcd"))
      val wh = spark.sql("SELECT size(window_hashes('abcdef', 3)) AS n")
        .collect()(0).getInt(0)
      assert(wh == 4)
      val wat = spark.sql("SELECT windows_at('abcdef', array(1, 3), 3) AS w")
        .collect()(0).getSeq[org.apache.spark.sql.Row](0).map(_.getString(1))
      assert(wat == Seq("abc", "cde"))
      val ri = spark.sql("SELECT remove_intervals('abcdef', array(2), 3) AS t")
        .collect()(0).getString(0)
      assert(ri == "aef")
      val tsh = spark.sql(
        "SELECT token_shingles_md5('a b c', 2) AS sh, md5('a b') AS m1, md5('b c') AS m2")
        .collect()(0)
      assert(tsh.getSeq[String](0) == Seq(tsh.getString(1), tsh.getString(2)))
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    val plain = SparkSession.builder()
      .master("local[2]")
      .appName("graft-extensions-spec-plain")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      def exists(name: String): Boolean =
        plain.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))
      NativeFunctions.all.foreach(f => assert(!exists(f.name), f.name))
      Seq(CleanMarginIndexExpr.register _, TextHashExprs.register _, UrlExprs.register _,
        RobotsExprs.register _, CharsetExprs.register _, PiiExprs.register _,
        OfficeExprs.register _, UnicodeNorm.register _, FeedExprs.register _,
        QualityExprs.register _, VecExprs.register _, TopKMinAgg.register _)
        .foreach(_(plain))
      assertResolvesAll(plain)
    } finally {
      plain.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
