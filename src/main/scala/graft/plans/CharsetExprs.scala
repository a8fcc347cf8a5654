package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.CharsetOps

/** Native codegen'd column forms of the [[graft.pipeline.CharsetOps]]
  * kernels (BOM/UTF-8/windows-1252 sniff, transcode, ftfy-style mojibake
  * repair) so crawl-byte decoding runs inside whole-stage codegen on the
  * ingest path — same tiering as [[UrlExprs]]: pure shared kernel, thin
  * UTF8String/byte[] shim, one [[NativeFunctions]] entry each. */
object CharsetExprs {
  /** `charset_sniff(bytes)` — detected encoding label of entity bytes. */
  def sniffB(b: Array[Byte]): UTF8String =
    UTF8String.fromString(CharsetOps.sniff(b))
  /** `charset_decode(bytes)` — sniff-then-decode (no trusted label). */
  def decodeB(b: Array[Byte]): UTF8String =
    UTF8String.fromString(CharsetOps.decode(b))
  /** `charset_decode_as(bytes, label)` — decode with a caller label (the
    * HTTP Content-Type path; unknown labels fall back to windows-1252). */
  def decodeAsB(b: Array[Byte], l: UTF8String): UTF8String =
    UTF8String.fromString(CharsetOps.decodeAs(b, l.toString))
  /** `charset_encode(text, label)` — encode text for a sink (UTF-16 output
    * carries its BOM; windows-1252 substitutes '?'; ascii drops). */
  def encodeAsB(s: UTF8String, l: UTF8String): Array[Byte] =
    CharsetOps.encodeAs(s.toString, l.toString)
  /** `fix_mojibake(text)` — ftfy-style wrong-charset-decode repair. */
  def fixB(s: UTF8String): UTF8String =
    UTF8String.fromString(CharsetOps.fixMojibake(s.toString))

  def charset_sniff(c: Column): Column = NativeFunctions.column("charset_sniff", c)
  def charset_decode(c: Column): Column = NativeFunctions.column("charset_decode", c)
  def charset_decode_as(c: Column, l: Column): Column =
    NativeFunctions.column("charset_decode_as", c, l)
  def charset_encode(c: Column, l: Column): Column =
    NativeFunctions.column("charset_encode", c, l)
  def fix_mojibake(c: Column): Column = NativeFunctions.column("fix_mojibake", c)
}
