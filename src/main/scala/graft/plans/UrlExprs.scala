package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.UrlOps

/** Native codegen'd column forms of the [[graft.pipeline.UrlOps]] URL
  * kernels (RFC 3986 §6 normalization, eTLD+1 grouping, SURT host
  * reversal), so crawl-key canonicalization participates in whole-stage
  * codegen on full-corpus paths — the same tiering as
  * [[CleanMarginIndexExpr]]: pure shared kernel, thin UTF8String shim,
  * registered both per-session and via [[GraftExtensions]]. */
object UrlExprs {
  /** `url_canonicalize(url)` — RFC 3986 §6 + crawl-convention canonical form. */
  def canonUtf8(s: UTF8String): UTF8String =
    UTF8String.fromString(UrlOps.canonicalize(s.toString))
  /** `url_registrable_domain(host)` — eTLD+1 site key of a canonical host. */
  def domainUtf8(s: UTF8String): UTF8String =
    UTF8String.fromString(UrlOps.registrableDomain(s.toString))
  /** `url_host_reversed(host)` — SURT-style reversed host (site row key). */
  def reverseUtf8(s: UTF8String): UTF8String =
    UTF8String.fromString(UrlOps.reverseHost(s.toString))
  /** `url_host(url)` — host of a hierarchical URL; null for non-null input
    * that is not one (`mailto:`, bare text). */
  def hostUtf8(s: UTF8String): UTF8String = {
    val h = UrlOps.hostOf(s.toString)
    if (h == null) null else UTF8String.fromString(h)
  }

  /** Register all four for SQL/Column use in this session. */
  def register(spark: SparkSession): Unit = NativeFunctions.register(spark, this)

  /** Column-API forms (require [[register]] on the active session). */
  def url_canonicalize(c: Column): Column = call_function("url_canonicalize", c)
  def url_registrable_domain(c: Column): Column = call_function("url_registrable_domain", c)
  def url_host_reversed(c: Column): Column = call_function("url_host_reversed", c)
  def url_host(c: Column): Column = call_function("url_host", c)
}
