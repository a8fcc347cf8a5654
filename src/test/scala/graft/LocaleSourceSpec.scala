package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Source check: the extraction kernel and its text layer never case-map
  * or format through the JVM default locale. Under tr-TR `"I".toLowerCase`
  * is a dotless ı and under de-DE `"%,d"` groups with dots, so a bare call
  * changes extracted fields with the host's locale. Pass `Locale.ROOT` (or
  * use `Py.foldCase`, which is locale-free); comment lines are ignored. */
class LocaleSourceSpec extends AnyFunSuite {

  private val dirs = Seq("src/main/scala/graft/extract", "src/main/scala/graft/text")

  // `.toLowerCase`/`.toUpperCase` not on `Character` and not given a
  // Locale; `.format(` or `String.format(` not given a Locale; `f"..."`.
  private val bare =
    """(?<!Character)\.to(?:Lower|Upper)Case\b(?!\s*\(\s*(?:java\.util\.)?Locale\b)|(?:\.|\bString\.)format\s*\((?!\s*(?:java\.util\.)?Locale\b)|\bf"""".r

  test("graft/extract and graft/text make no default-locale case mapping or formatting") {
    val files = dirs.flatMap { d =>
      val dir = new File(d)
      assert(dir.isDirectory, s"$d not found from ${new File(".").getAbsolutePath}")
      dir.listFiles().filter(_.getName.endsWith(".scala")).toSeq
    }
    assert(files.nonEmpty)
    val hits = for {
      f <- files.sortBy(_.getName)
      (line, i) <- { val src = Source.fromFile(f, "UTF-8"); try src.getLines().toList finally src.close() }.zipWithIndex
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
      if bare.findFirstIn(line.replaceAll("//.*$", "")).nonEmpty
    } yield s"${f.getName}:${i + 1}: $code"
    assert(hits.isEmpty, hits.mkString("default-locale calls:\n", "\n", ""))
  }
}
