package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.OfficeText
import graft.plans.OfficeExprs

/** DOCX/ODT extraction: container-kind detection, encode/extract round
  * trips (paragraphs, tabs, XML entities, numeric charrefs), hand-built
  * XML covering runs/spans/breaks the encoder doesn't emit, totality on
  * malformed bytes, and kernel == expression through a real plan. */
class OfficeTextSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-office-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def zipOf(entries: (String, String)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (n, c) =>
      z.putNextEntry(new ZipEntry(n)); z.write(c.getBytes(StandardCharsets.UTF_8)); z.closeEntry()
    }
    z.close(); bos.toByteArray
  }

  test("kind detection across containers") {
    assert(OfficeText.kind(OfficeText.encodeDocx("x")) == "docx")
    assert(OfficeText.kind(OfficeText.encodeOdt("x")) == "odt")
    assert(OfficeText.kind(zipOf("readme.txt" -> "hello")) == "zip")
    assert(OfficeText.kind("not a zip".getBytes) == null)
    assert(OfficeText.kind(Array.empty[Byte]) == null)
    assert(OfficeText.kind(null) == null)
  }

  test("docx round trip: paragraphs, tabs, entities, quotes") {
    val texts = Seq(
      "single paragraph",
      "two\nparagraphs",
      "tab\there and & < > ' \" entities",
      "",
      "trailing empty para\n",
      "a\n\nb") // empty middle paragraph survives
    texts.foreach { t =>
      assert(OfficeText.text(OfficeText.encodeDocx(t)) == t, s"docx: ${t.take(30)}")
    }
  }

  test("odt round trip: same surface") {
    val texts = Seq("single", "two\nlines", "tab\tand & <entities>", "", "x\n\ny")
    texts.foreach { t =>
      assert(OfficeText.text(OfficeText.encodeOdt(t)) == t, s"odt: ${t.take(30)}")
    }
  }

  test("hand-built DOCX xml: multiple runs, w:br, numeric charrefs") {
    val doc = "<?xml version=\"1.0\"?><w:document><w:body>" +
      "<w:p><w:r><w:t>run one </w:t></w:r><w:r><w:t>run two</w:t></w:r></w:p>" +
      "<w:p><w:r><w:t>before</w:t></w:r><w:r><w:br/></w:r><w:r><w:t>after</w:t></w:r></w:p>" +
      "<w:p><w:r><w:t>&#65;&#x42;c</w:t></w:r></w:p>" +
      "</w:body></w:document>"
    val b = zipOf("word/document.xml" -> doc)
    assert(OfficeText.text(b) == "run one run two\nbefore\nafter\nABc")
  }

  test("hand-built ODT xml: nested spans and headings capture") {
    val doc = "<office:document-content><office:body><office:text>" +
      "<text:h>Title</text:h>" +
      "<text:p>plain <text:span text:style-name=\"T1\">styled</text:span> tail</text:p>" +
      "<text:p>tab<text:tab/>then<text:line-break/>break</text:p>" +
      "</office:text></office:body></office:document-content>"
    val b = zipOf("mimetype" -> "application/vnd.oasis.opendocument.text",
      "content.xml" -> doc)
    assert(OfficeText.text(b) == "Title\nplain styled tail\ntab\tthen\nbreak")
  }

  test("total on malformed input: truncated zip, missing part, binary junk") {
    val good = OfficeText.encodeDocx("body text here")
    assert(OfficeText.text(good.take(good.length / 2)) == null ||
      OfficeText.text(good.take(good.length / 2)) != null) // never throws
    assert(OfficeText.text(zipOf("other.xml" -> "<a/>")) == null)
    assert(OfficeText.text("PKgarbage".getBytes) == null)
    assert(OfficeText.text(null) == null)
  }

  test("expressions match the kernel through a real plan") {
    import spark.implicits._
    val rows = Seq(
      (1L, OfficeText.encodeDocx("docx body\nsecond & line")),
      (2L, OfficeText.encodeOdt("odt body\ttabbed")),
      (3L, "plain bytes".getBytes))
    val got = rows.toDF("id", "bytes")
      .select(col("id"),
        OfficeExprs.office_kind(col("bytes")).as("k"),
        OfficeExprs.office_text(col("bytes")).as("t"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got(1L) == (("docx", "docx body\nsecond & line")))
    assert(got(2L) == (("odt", "odt body\ttabbed")))
    assert(got(3L) == ((null, null)))
  }
}
