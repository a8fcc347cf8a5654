package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Queries

/** The tool runner, driven with the suite's session: `dump` writes what the
  * query returns, a query that throws ends `time` without a number, and
  * every name is checked before anything runs or is written. */
class QueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-queries-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def columns(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.catalogString)

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  test("dump writes each query's schema and rows as coalesce(1) parquet") {
    val out = Files.createTempDirectory("graft_queries_dump").toString
    val names = Seq("q_lang_dist", "q_dedup_exact")
    Queries.run(spark, "dump", sf, out, names)
    names.foreach { n =>
      val got = spark.read.parquet(s"$out/$n")
      val want = SparkEntry.queries(n)(spark, sf)
      assert(columns(got) == columns(want), n)
      assert(rows(got).nonEmpty, n)
      assert(rows(got) == rows(want), n)
      assert(new File(s"$out/$n").list().count(_.endsWith(".parquet")) == 1, n)
    }
  }

  test("time over a missing sfDir throws instead of printing a number") {
    val missing = new File(Files.createTempDirectory("graft_queries_time").toFile, "none").getPath
    val stdout = new ByteArrayOutputStream()
    val e = intercept[RuntimeException] {
      Console.withOut(stdout)(Queries.run(spark, "time", missing, "unused", Seq("q_lang_dist")))
    }
    assert(e.getMessage.contains("q_lang_dist"))
    assert(!stdout.toString("UTF-8").contains("min="), stdout.toString("UTF-8"))
  }

  test("an unknown name is rejected before anything is written under out") {
    val out = new File(Files.createTempDirectory("graft_queries_unknown").toFile, "out")
    val e = intercept[IllegalArgumentException] {
      Queries.run(spark, "dump", sf, out.getPath, Seq("q_lang_dist", "q_no_such_query"))
    }
    assert(e.getMessage.contains("q_no_such_query"))
    assert(!out.exists())
  }
}
