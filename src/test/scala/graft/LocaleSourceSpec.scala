package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Source check: engine code never case-maps or formats through the JVM
  * default locale. Under tr-TR `"I".toLowerCase` is a dotless ı (so
  * `WARC-Target-URI` would lowercase to `warc-target-urı`) and under de-DE
  * `"%,d"` groups with dots, so a bare call changes results with the
  * host's locale. Pass `Locale.ROOT` (or use `Py.foldCase`, which is
  * locale-free); comment lines are ignored. The extraction kernel, its
  * text layer and the ingest parsers allow no exception; elsewhere the
  * `allowed` lines below do, each for its reason. */
class LocaleSourceSpec extends AnyFunSuite {

  private val dirs = Seq("src/main/scala/graft/extract", "src/main/scala/graft/text")
  private val files = Seq("WarcIO", "UrlOps", "RobotsOps", "CharsetOps", "FeedText", "OfficeText")
    .map(n => new File(s"src/main/scala/graft/pipeline/$n.scala"))

  // `.toLowerCase`/`.toUpperCase` not on `Character` and not given a
  // Locale; `.format(` or `String.format(` not given a Locale, except a
  // `DataFrameReader`/`DataFrameWriter` source name (`.format("parquet")`);
  // `f"..."` (an `f` right after a quote is a string's last letter, as in
  // `col("f")`).
  private val bare =
    """(?<!Character)\.to(?:Lower|Upper)Case\b(?!\s*\(\s*(?:java\.util\.)?Locale\b)|(?:\.|\bString\.)format\s*\((?!\s*(?:java\.util\.)?Locale\b)(?!\s*"[\w.]+"\s*\))|(?<!")\bf"""".r

  /** (file, code on the line, reason): the default-locale calls that stay. */
  private val allowed = Seq(
    ("TextHashExprs.scala", "if (doLower) s.toLowerCase else s",
      "ws_normalize lowers with UTF8String.toLowerCase, as Spark's `lower` does"),
    ("TextHashExprs.scala", "val b = raw.toLowerCase.getBytes",
      "ascii_tokens mirrors `regexp_extract_all(lower(text), ...)`, so lowers as `lower` does"),
    ("CaseViewer.scala", "contains(term.toLowerCase))",
      "the search term lowers as Spark's `lower` lowers the fields it is matched in"),
    ("Bench.scala", "f\"\\\":$v%.3f\"",
      "Bench is the frozen benchmark harness; under de-DE it prints `%.3f` with a comma"),
    ("Bench.scala", "reps.map(r => f\"$r%.3f\")", "Bench is frozen (see above)"),
    ("Bench.scala", "f\"\"\"{\"metric\":\"total\"", "Bench is frozen (see above)"),
    ("Verify.scala", "f\"\\\\u${c.toInt}%04x\"",
      "Verify is the frozen dump harness; `%04x` has no locale-dependent digits"))

  private def hits(sources: Seq[File]): Seq[String] = for {
    f <- sources.sortBy(_.getPath)
    (line, i) <- { val src = Source.fromFile(f, "UTF-8"); try src.getLines().toList finally src.close() }.zipWithIndex
    code = line.trim
    if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
    if bare.findFirstIn(line.replaceAll("//.*$", "")).nonEmpty
  } yield s"${f.getName}:${i + 1}: $code"

  private def scalaFiles(dir: File): Seq[File] = {
    assert(dir.isDirectory, s"$dir not found from ${new File(".").getAbsolutePath}")
    dir.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
  }

  test("graft/extract and graft/text make no default-locale case mapping or formatting") {
    val sources = dirs.flatMap(d => scalaFiles(new File(d))) ++ files
    files.foreach(f => assert(f.isFile, s"$f not found"))
    assert(sources.exists(_.getName == "Markup.scala"))
    val found = hits(sources)
    assert(found.isEmpty, found.mkString("default-locale calls:\n", "\n", ""))
  }

  test("all engine code makes no default-locale call outside the allowlist") {
    val found = hits(scalaFiles(new File("src/main/scala")))
    def excuses(a: (String, String, String), hit: String): Boolean =
      hit.startsWith(a._1 + ":") && hit.contains(a._2)
    val unexpected = found.filterNot(h => allowed.exists(excuses(_, h)))
    assert(unexpected.isEmpty, unexpected.mkString("default-locale calls:\n", "\n", ""))
    // a stale entry would excuse a later call that matches it
    val stale = allowed.filterNot(a => found.exists(excuses(a, _)))
    assert(stale.isEmpty, s"allowlist entries that match nothing: $stale")
  }
}
