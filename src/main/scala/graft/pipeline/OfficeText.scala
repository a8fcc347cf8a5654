package graft.pipeline

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.text.Markup

/** Office-document text extraction — DOCX (OOXML WordprocessingML,
  * ECMA-376) and ODT (OpenDocument, OASIS ODF §5) — the web's second
  * document population after HTML/PDF. Both formats are ZIP containers
  * holding an XML part; text extraction is a container walk plus a
  * character-data scan of the documented text model:
  *
  *  - DOCX: `word/document.xml`; character data lives ONLY inside
  *    `<w:t>` runs; `</w:p>` ends a paragraph; `<w:tab/>` is a tab,
  *    `<w:br/>` a line break (ECMA-376 §17.3).
  *  - ODT: `content.xml`; character data inside `<text:p>` /
  *    `<text:h>` elements at any span depth; `<text:tab/>` and
  *    `<text:line-break/>` as above (ODF §6.1).
  *
  * Paragraphs join with `\n`; entities decode and CDATA stays literal
  * ([[graft.text.Markup]]). Everything is a bounded, total per-row
  * byte walk (the [[MediaJob]] discipline: malformed input → null,
  * never a thrown task); container reading is `java.util.zip` streaming
  * — no XML library, no DOM allocation proportional to nesting.
  *
  * Reference behavior surface: the reference ingests pre-extracted
  * text/PDF; office formats belong to the web-scale ingest tier the
  * brief adds (same family as [[WarcIO]] / [[HtmlJob]]).
  *
  * Shape at 100 TB: per-row kernel in the scan stage, surfaced as the
  * codegen'd expressions `office_kind` / `office_text`
  * ([[graft.plans.OfficeExprs]]); document bytes never shuffle. */
object OfficeText {

  private val MaxPartBytes = 64 << 20 // one XML part, decompressed

  /** Container kind: `docx | odt | rtf | zip | null`. DOCX/ODT are ZIP
    * containers identified by their entry inventory; RTF is a plain
    * `{\rtf` control-word stream ([[RtfText]]). */
  def kind(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length < 5) return null
    if (bytes(0) == '{' && bytes(1) == '\\' && bytes(2) == 'r' &&
        bytes(3) == 't' && bytes(4) == 'f') return "rtf"
    if (!(bytes(0) == 'P' && bytes(1) == 'K' && bytes(2) == 3 && bytes(3) == 4))
      return null
    try {
      val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
      try {
        var e = zin.getNextEntry
        var sawContent = false
        while (e != null) {
          e.getName match {
            case "word/document.xml" => return "docx"
            case "content.xml" => sawContent = true
            case _ =>
          }
          e = zin.getNextEntry
        }
        if (sawContent) "odt" else "zip"
      } finally zin.close()
    } catch { case _: Exception => null }
  }

  /** Extracted plain text, or null when the container/part is absent or
    * malformed. */
  def text(bytes: Array[Byte]): String = {
    val k = kind(bytes)
    if (k == "rtf") return RtfText.extract(CharsetOps.decode1252(bytes))
    if (k != "docx" && k != "odt") return null
    val part = if (k == "docx") "word/document.xml" else "content.xml"
    val xml = readPart(bytes, part)
    if (xml == null) return null
    if (k == "docx")
      scanXml(xml, captureIn = "w:t", paraEnds = Set("w:p"),
        tabs = Set("w:tab"), breaks = Set("w:br", "w:cr"), nestedCapture = false)
    else
      scanXml(xml, captureIn = "text:p", paraEnds = Set("text:p", "text:h"),
        tabs = Set("text:tab"), breaks = Set("text:line-break"),
        nestedCapture = true, alsoCaptureIn = Set("text:h"))
  }

  /** Decompressed bytes of one named entry (size-capped), else null. */
  private def readPart(bytes: Array[Byte], name: String): String = {
    try {
      val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
      try {
        var e = zin.getNextEntry
        while (e != null) {
          if (e.getName == name) {
            val out = new ByteArrayOutputStream()
            val buf = new Array[Byte](8192)
            var n = zin.read(buf)
            while (n >= 0 && out.size <= MaxPartBytes) {
              out.write(buf, 0, n); n = zin.read(buf)
            }
            if (out.size > MaxPartBytes) return null
            return new String(out.toByteArray, StandardCharsets.UTF_8)
          }
          e = zin.getNextEntry
        }
        null
      } finally zin.close()
    } catch { case _: Exception => null }
  }

  /** Single-pass character-data scan of the documented text model over
    * the [[graft.text.Markup]] lexer; element names compare with their
    * prefix (`w:t`). DOCX captures only directly inside `captureIn`
    * elements (`nestedCapture = false`); ODT captures everything inside a
    * paragraph element at any depth (`nestedCapture = true`). */
  private def scanXml(xml: String, captureIn: String, paraEnds: Set[String],
                      tabs: Set[String], breaks: Set[String],
                      nestedCapture: Boolean,
                      alsoCaptureIn: Set[String] = Set.empty): String = {
    val sb = new java.lang.StringBuilder()
    var capture = 0
    val m = Markup.xml(xml)
    var ev = m.next()
    while (ev != Markup.End) {
      if (ev == Markup.Text) {
        if (capture > 0) sb.append(m.text)
      } else {
        val tag = m.name
        val opens = captureIn == tag || alsoCaptureIn.contains(tag)
        if (m.selfClosing) {
          if (capture > 0 || !nestedCapture) {
            if (tabs.contains(tag)) sb.append('\t')
            else if (breaks.contains(tag)) sb.append('\n')
          }
        } else if (ev == Markup.Close) {
          if (opens && capture > 0) capture -= 1
          if (paraEnds.contains(tag)) sb.append('\u0000') // paragraph sentinel
        } else {
          if (opens) capture += 1
          // non-self-closed tab/br forms are legal too
          if ((capture > 0 || !nestedCapture) && tabs.contains(tag)) sb.append('\t')
          else if ((capture > 0 || !nestedCapture) && breaks.contains(tag)) sb.append('\n')
        }
      }
      ev = m.next()
    }
    finishParas(sb)
  }

  /** Paragraph sentinels → '\n' separators. Each paragraph end emits
    * one sentinel, so N paragraphs carry N of them; joining with '\n'
    * means dropping exactly the final one (a terminal EMPTY paragraph
    * must survive as a trailing newline). */
  private def finishParas(sb: java.lang.StringBuilder): String = {
    var s = sb.toString
    if (s.nonEmpty && s.last == '\u0000') s = s.dropRight(1)
    s.replace('\u0000', '\n')
  }

  // ------------------------------------------------------------- encoders

  private def xmlEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 16)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case '\'' => sb.append("&apos;")
      case '\t' => sb.append("<TAB/>") // placeholder, swapped per format
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Minimal well-formed DOCX: one `<w:p>` per input line, tabs as
    * `<w:tab/>`. The sink/synthesis side of [[text]]. */
  def encodeDocx(s: String): Array[Byte] = {
    val paras = Option(s).getOrElse("").split("\n", -1).map { p =>
      "<w:p><w:r><w:t xml:space=\"preserve\">" +
        xmlEscape(p).replace("<TAB/>", "</w:t></w:r><w:r><w:tab/><w:t xml:space=\"preserve\">") +
        "</w:t></w:r></w:p>"
    }.mkString
    val doc = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
      "<w:document xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\">" +
      "<w:body>" + paras + "</w:body></w:document>"
    zipOf(Seq(
      "[Content_Types].xml" ->
        ("<?xml version=\"1.0\"?><Types xmlns=\"http://schemas.openxmlformats.org/package/2006/content-types\">" +
          "<Default Extension=\"xml\" ContentType=\"application/xml\"/></Types>"),
      "word/document.xml" -> doc))
  }

  /** Minimal well-formed ODT: one `<text:p>` per input line. */
  def encodeOdt(s: String): Array[Byte] = {
    val paras = Option(s).getOrElse("").split("\n", -1).map { p =>
      "<text:p>" + xmlEscape(p).replace("<TAB/>", "<text:tab/>") + "</text:p>"
    }.mkString
    val doc = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
      "<office:document-content xmlns:office=\"urn:oasis:names:tc:opendocument:xmlns:office:1.0\" " +
      "xmlns:text=\"urn:oasis:names:tc:opendocument:xmlns:text:1.0\">" +
      "<office:body><office:text>" + paras + "</office:text></office:body>" +
      "</office:document-content>"
    zipOf(Seq(
      "mimetype" -> "application/vnd.oasis.opendocument.text",
      "content.xml" -> doc))
  }

  private def zipOf(entries: Seq[(String, String)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes(StandardCharsets.UTF_8))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  /** Test/bench synthesis: the corpus as office files — even doc_ids
    * DOCX, odd ODT (the kernel runs in a narrow typed map; bytes are
    * built and consumed inside the scan stage). */
  def wrapCorpus(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val t = if (text == null) "" else text
        val b = if (id % 2 == 0) encodeDocx(t) else encodeOdt(t)
        (id, b)
      }
      .toDF("doc_id", "bytes")
  }
}
