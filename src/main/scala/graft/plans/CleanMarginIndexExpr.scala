package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.Cleaners

/** Native Catalyst function for the margin-index boilerplate strip (P1,
  * `/root/reference/src/extractor.py:146-235`) — the optional codegen tier
  * flagged in SURVEY.md §2.2/§7.3. Semantics are exactly
  * [[Cleaners.cleanPdfIndexArtifacts]] (shared code path, covered by the
  * golden suite); what this adds is a *column-level* form that participates
  * in whole-stage codegen instead of forcing a deserialize→Scala-lambda
  * boundary, so relational pipelines can clean span text without leaving
  * Tungsten rows:
  *
  * {{{
  *   df.select(CleanMarginIndexExpr.clean_margin_index($"page_text"))
  *   spark.sql("SELECT clean_margin_index(text) FROM t")
  * }}}
  */
object CleanMarginIndexExpr {
  /** Static entry point referenced from generated code. */
  def evalUtf8(s: UTF8String): UTF8String =
    UTF8String.fromString(Cleaners.cleanPdfIndexArtifacts(s.toString))

  def clean_margin_index(c: Column): Column =
    NativeFunctions.column("clean_margin_index", c)
}
