package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.RedirectJobs

/** Redirect-chain resolution: RFC 9110 3xx walk semantics — terminal /
  * multi-hop / relative-Location resolution / dangling target / loop /
  * exact hop-budget boundary — plus the synthetic fetch log the
  * q_redirect_resolve oracle replays. */
class RedirectSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-redirect-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def log(rows: (String, Int, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("url", "status", "location")
  }

  private def resolve(df: DataFrame, maxHops: Int = 8): Map[String, Row] =
    RedirectJobs.resolveChains(spark, df, maxHops)
      .collect().map(r => r.getString(0) -> r).toMap

  test("an empty fetch log resolves to no rows") {
    val out = Await.result(Future(resolve(log())), 5.minutes)
    assert(out.isEmpty)
  }

  test("terminal statuses resolve to themselves with zero hops") {
    val out = resolve(log(
      ("https://a.com/ok", 200, null),
      ("https://a.com/gone", 404, null),
      ("https://a.com/err", 500, null)))
    for ((u, status) <- Seq("https://a.com/ok" -> 200,
        "https://a.com/gone" -> 404, "https://a.com/err" -> 500)) {
      val r = out(u)
      assert(r.getString(1) == "fetched")
      assert(r.getString(2) == u)
      assert(r.getInt(3) == status)
      assert(r.getInt(4) == 0)
    }
  }

  test("multi-hop chain lands with the hop count and landing status") {
    val out = resolve(log(
      ("https://a.com/1", 301, "https://a.com/2"),
      ("https://a.com/2", 302, "https://a.com/3"),
      ("https://a.com/3", 200, null)))
    val r = out("https://a.com/1")
    assert(r.getString(1) == "fetched")
    assert(r.getString(2) == "https://a.com/3")
    assert(r.getInt(3) == 200)
    assert(r.getInt(4) == 2)
    assert(out("https://a.com/2").getInt(4) == 1)
  }

  test("relative Location values resolve per RFC 3986 against the redirecting URL") {
    val out = resolve(log(
      ("https://a.com/dir/page", 301, "other"), // path-merge relative
      ("https://a.com/dir/other", 302, "/root2"), // absolute-path relative
      ("https://a.com/root2", 200, null)))
    val r = out("https://a.com/dir/page")
    assert(r.getString(1) == "fetched")
    assert(r.getString(2) == "https://a.com/root2")
    assert(r.getInt(4) == 2)
  }

  test("a target with no fetch row is unfetched, carrying the target URL") {
    val out = resolve(log(("https://a.com/x", 308, "https://b.com/y")))
    val r = out("https://a.com/x")
    assert(r.getString(1) == "unfetched")
    assert(r.getString(2) == "https://b.com/y")
    assert(r.isNullAt(3))
    assert(r.getInt(4) == 1)
  }

  test("a loop exhausts the hop budget as too_many with null final fields") {
    val out = resolve(log(
      ("https://a.com/A", 301, "https://a.com/B"),
      ("https://a.com/B", 302, "https://a.com/A")), maxHops = 6)
    val r = out("https://a.com/A")
    assert(r.getString(1) == "too_many")
    assert(r.isNullAt(2))
    assert(r.isNullAt(3))
    assert(r.getInt(4) == 6)
  }

  test("hop budget boundary: a chain of exactly maxHops lands; one more does not") {
    val chain = (1 to 5).map(i =>
      (s"https://a.com/$i", 301, s"https://a.com/${i + 1}")) :+
      (("https://a.com/6", 200, null: String))
    val out = resolve(log(chain: _*), maxHops = 5)
    val head = out("https://a.com/1")
    assert(head.getString(1) == "fetched" && head.getInt(4) == 5)
    val out4 = resolve(log(chain: _*), maxHops = 4)
    val head4 = out4("https://a.com/1")
    assert(head4.getString(1) == "too_many" && head4.getInt(4) == 4)
    // the second element only needs 4 hops — unaffected by the cap
    assert(out4("https://a.com/2").getString(1) == "fetched")
  }

  test("a 3xx without Location and a 2xx with Location are both terminal") {
    val out = resolve(log(
      ("https://a.com/nl", 301, null),
      ("https://a.com/wl", 200, "https://a.com/ignored")))
    assert(out("https://a.com/nl").getString(1) == "fetched")
    assert(out("https://a.com/nl").getInt(4) == 0)
    assert(out("https://a.com/wl").getString(2) == "https://a.com/wl")
  }

  test("synthetic fetch log: variants carry the documented shapes end-to-end") {
    import spark.implicits._
    val docs = (0L until 10L).map(i => (i, "alpha", "en"))
      .toDF("doc_id", "source", "lang")
    val fetchLog = RedirectJobs.syntheticFetchLog(spark, docs)
    val out = RedirectJobs.resolveChains(spark, fetchLog, maxHops = 5)
      .collect().map(r => r.getString(0) -> r).toMap
    val base = "https://www.alpha-site.com"
    // v0 direct
    assert(out(s"$base/p0").getString(1) == "fetched" &&
      out(s"$base/p0").getInt(4) == 0)
    // v1: one hop through the relative /r/ Location
    val v1 = out(s"$base/p1")
    assert(v1.getString(1) == "fetched" && v1.getString(2) == s"$base/r/1" &&
      v1.getInt(3) == 200 && v1.getInt(4) == 1)
    // v2: two hops landing on 404
    val v2 = out(s"$base/p2")
    assert(v2.getString(1) == "fetched" && v2.getString(2) == s"$base/end2" &&
      v2.getInt(3) == 404 && v2.getInt(4) == 2)
    // v3: dangling
    val v3 = out(s"$base/p3")
    assert(v3.getString(1) == "unfetched" && v3.getString(2) == s"$base/missing3")
    // v4: loop
    val v4 = out(s"$base/p4")
    assert(v4.getString(1) == "too_many" && v4.getInt(4) == 5)
    // row count: 1 + 2 + 3 + 1 + 3 per 5-doc cycle
    assert(out.size == 2 * (1 + 2 + 3 + 1 + 3))
  }
}
