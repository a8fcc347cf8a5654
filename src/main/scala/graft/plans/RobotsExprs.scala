package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.RobotsOps

/** Native codegen'd column forms of the [[graft.pipeline.RobotsOps]]
  * RFC 9309 evaluator, so robots gating runs inside whole-stage codegen
  * on the full-corpus URL path (the same tiering as [[UrlExprs]]): pure
  * shared kernel, thin UTF8String shims, per-session + extension
  * registration. The kernel's bounded (robots, agent) policy cache makes
  * the per-row cost a cached-rule scan — one robots.txt is shared by
  * every URL of its site. */
object RobotsExprs {
  /** `robots_allowed(robots_txt, agent, path)` — RFC 9309 §2.2.2 verdict. */
  def allowed(r: UTF8String, a: UTF8String, p: UTF8String): Boolean =
    RobotsOps.isAllowed(r.toString, a.toString, p.toString)
  /** `robots_crawl_delay(robots_txt, agent)` — the group's Crawl-delay in
    * seconds, NULL when the group declares none. */
  def delay(r: UTF8String, a: UTF8String): java.lang.Double =
    RobotsOps.crawlDelay(r.toString, a.toString)
      .map(java.lang.Double.valueOf).orNull

  /** Register both for SQL/Column use in this session. */
  def register(spark: SparkSession): Unit = NativeFunctions.register(spark, this)

  /** Column-API forms (require [[register]] on the active session). */
  def robots_allowed(robots: Column, agent: Column, path: Column): Column =
    call_function("robots_allowed", robots, agent, path)
  def robots_crawl_delay(robots: Column, agent: Column): Column =
    call_function("robots_crawl_delay", robots, agent)
}
