package graft.plans

import org.apache.spark.sql.Column
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

  def office_kind(c: Column): Column = NativeFunctions.column("office_kind", c)
  def office_text(c: Column): Column = NativeFunctions.column("office_text", c)
}
