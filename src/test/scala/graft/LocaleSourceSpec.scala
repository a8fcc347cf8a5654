package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Source check: the extraction kernel, its text layer and the ingest
  * parsers (WARC, URL, robots.txt, charset, feed and office readers) never
  * case-map or format through the JVM default locale. Under tr-TR
  * `"I".toLowerCase` is a dotless ı (so `WARC-Target-URI` would lowercase
  * to `warc-target-urı`) and under de-DE `"%,d"` groups with dots, so a
  * bare call changes results with the host's locale. Pass `Locale.ROOT` (or
  * use `Py.foldCase`, which is locale-free); comment lines are ignored. */
class LocaleSourceSpec extends AnyFunSuite {

  private val dirs = Seq("src/main/scala/graft/extract", "src/main/scala/graft/text")
  private val files = Seq("WarcIO", "UrlOps", "RobotsOps", "CharsetOps", "FeedText", "OfficeText")
    .map(n => new File(s"src/main/scala/graft/pipeline/$n.scala"))

  // `.toLowerCase`/`.toUpperCase` not on `Character` and not given a
  // Locale; `.format(` or `String.format(` not given a Locale, except a
  // `DataFrameReader`/`DataFrameWriter` source name (`.format("parquet")`);
  // `f"..."`.
  private val bare =
    """(?<!Character)\.to(?:Lower|Upper)Case\b(?!\s*\(\s*(?:java\.util\.)?Locale\b)|(?:\.|\bString\.)format\s*\((?!\s*(?:java\.util\.)?Locale\b)(?!\s*"[\w.]+"\s*\))|\bf"""".r

  test("graft/extract and graft/text make no default-locale case mapping or formatting") {
    val sources = dirs.flatMap { d =>
      val dir = new File(d)
      assert(dir.isDirectory, s"$d not found from ${new File(".").getAbsolutePath}")
      dir.listFiles().filter(_.getName.endsWith(".scala")).toSeq
    } ++ files
    files.foreach(f => assert(f.isFile, s"$f not found"))
    assert(sources.exists(_.getName == "Markup.scala"))
    val hits = for {
      f <- sources.sortBy(_.getName)
      (line, i) <- { val src = Source.fromFile(f, "UTF-8"); try src.getLines().toList finally src.close() }.zipWithIndex
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
      if bare.findFirstIn(line.replaceAll("//.*$", "")).nonEmpty
    } yield s"${f.getName}:${i + 1}: $code"
    assert(hits.isEmpty, hits.mkString("default-locale calls:\n", "\n", ""))
  }
}
