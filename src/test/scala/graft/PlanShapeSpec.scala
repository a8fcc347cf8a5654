package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.KgJob

/** Physical-plan shape assertions for the queries whose scale behavior was
  * rewritten: per-doc computations must not explode rows or shuffle beyond
  * the output sort, and the similar-case join must never degenerate into a
  * cartesian/nested-loop product at the default threshold. */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-plan-shape-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def assertInRow(name: String): Unit = {
    val p = plan(SparkEntry.queries(name)(spark, sfDir))
    assert(!p.contains("Generate"), s"$name plan has an explode:\n$p")
    assert(!p.contains("CartesianProduct"), s"$name plan has a cartesian product")
    assert(!p.contains("BroadcastNestedLoop"), s"$name plan has a nested-loop join")
    assert(!p.contains("Join"), s"$name plan has a join:\n$p")
    // Exchange count is NOT capped at 1: beyond the output sort, the
    // single-split parallelism guard (ScanParallelism.ensure) may add one
    // round-robin repartition — the point of the assertion is no explode
    // and no join (per-row compute stays per-row), not shuffle-freedom.
    val exchanges = "Exchange".r.findAllMatchIn(p).size
    assert(exchanges <= 2, s"$name has $exchanges exchanges (sort + parallelism guard allowed):\n$p")
  }

  test("q_dedup_simhash is per-row: no explode, no join") {
    assertInRow("q_dedup_simhash")
  }

  test("q_fingerprint is per-row: no explode, no join") {
    assertInRow("q_fingerprint")
  }

  test("q_dedup_minhash signature stage is in-row (no token explode before the banded join)") {
    val p = plan(SparkEntry.queries("q_dedup_minhash")(spark, sfDir))
    // the one explode allowed is the band fan-out of the in-row signature
    // (one row per band hash); the tokens themselves never leave their row
    val gens = p.linesIterator.filter(_.contains("Generate")).toSeq
    assert(gens.forall(_.contains("Generate posexplode(array(md5(")),
      s"minhash plan explodes tokens:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("ScanParallelism.ensure fans out single-split scans and no-ops on wide ones") {
    import spark.implicits._
    val single = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(single.rdd.getNumPartitions < spark.sparkContext.defaultParallelism,
      "precondition: the small table must arrive as fewer splits than cores")
    val ensured = graft.pipeline.ScanParallelism.ensure(single)
    assert(ensured.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(ensured.count() == single.count(), "repartition must not drop rows")
    // already-wide input: no shuffle added (same plan object back)
    val wide = single.repartition(spark.sparkContext.defaultParallelism * 2)
    assert(graft.pipeline.ScanParallelism.ensure(wide) eq wide)
  }

  test("q_similar_docs plans equi-joins only (no cartesian/nested-loop)") {
    val p = plan(SparkEntry.queries("q_similar_docs")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"q_similar_docs has a cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoop"), s"q_similar_docs has a nested-loop join:\n$p")
  }

  test("q_chunks is map-only: the only allowed explode is the window fan-out, no join, no aggregation shuffle") {
    val p = plan(SparkEntry.queries("q_chunks")(spark, sfDir))
    assert(!p.contains("Join"), s"q_chunks plan has a join:\n$p")
    assert(!p.contains("CartesianProduct"))
    // exchanges: output sort only (+ AQE wrappers); no hash-partitioning
    // for aggregation may appear
    assert(!p.contains("hashpartitioning"), s"q_chunks shuffles for aggregation:\n$p")
  }

  test("q_html_extract and q_layout_order shuffle only on doc-keyed hash/sort exchanges (no cartesian, no nested loop)") {
    Seq("q_html_extract", "q_layout_order").foreach { name =>
      val p = plan(SparkEntry.queries(name)(spark, sfDir))
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoop"), s"$name has a nested-loop join:\n$p")
    }
  }

  test("similarCases at threshold > 0.6 plans an equi-join, never a cross product") {
    import spark.implicits._
    val cases = Seq(
      ("c1", "Action", "HIGH COURT", "granted", 100000.0),
      ("c2", "Action", "HIGH COURT", "granted", 150000.0),
      ("c3", "Application", "DISTRICT COURT", "dismissed", 120000.0)
    ).toDF("case_key", "case_type", "court_name", "judgment_result", "claim_value")
    val p = plan(KgJob.similarCases(cases, threshold = 0.7))
    assert(!p.contains("CartesianProduct"), s"similarCases is a cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoop"), s"similarCases is a nested-loop join:\n$p")
  }
}
