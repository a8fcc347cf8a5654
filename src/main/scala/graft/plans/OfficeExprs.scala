package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.OfficeText

/** Native codegen'd forms of the [[graft.pipeline.OfficeText]] kernels
  * (DOCX/ODT container walk + text-model scan) so office-document
  * extraction runs inside whole-stage codegen on the ingest path — the
  * [[CharsetExprs]] tiering. Both return null for NON-NULL input (an
  * unrecognized container), so their table entries are null-on-non-null. */
object OfficeExprs {
  /** `office_kind(bytes)` — docx | odt | rtf | zip | null. */
  def kindB(b: Array[Byte]): UTF8String = {
    val k = OfficeText.kind(b)
    if (k == null) null else UTF8String.fromString(k)
  }
  /** `office_text(bytes)` — extracted plain text (null when unrecognized). */
  def textB(b: Array[Byte]): UTF8String = {
    val t = OfficeText.text(b)
    if (t == null) null else UTF8String.fromString(t)
  }

  def register(spark: SparkSession): Unit = NativeFunctions.register(spark, this)

  /** Column-API forms (require [[register]] on the active session). */
  def office_kind(c: Column): Column = call_function("office_kind", c)
  def office_text(c: Column): Column = call_function("office_text", c)
}
