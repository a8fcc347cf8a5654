package graft

import java.io.File

import scala.io.Source
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source checks over `src/main/scala`, comment lines ignored.
  *
  * `graft.pipeline.Materialize` is the one owner of every materialised
  * intermediate. Engine code cuts, persists and frees through it, so
  * `releaseCached` can free everything the engine made; a bare
  * `localCheckpoint(`, `.persist(` or `.cache()` anywhere else would
  * escape that.
  *
  * No engine code calls a native function by name: `call_function(`
  * resolves the name in the function registry of the session that
  * analyses the plan, and fails in a session that nothing registered.
  * The `graft.plans` builders build the expression instead.
  *
  * Tools run in `graft.tools.Queries.session()`, so they plan and run a
  * query the way the frozen `Bench` times it; only `Bench` and `Verify`
  * build their own session. */
class MaterializeSourceSpec extends AnyFunSuite {

  private val bare = """localCheckpoint\(|\.persist\(|\.cache\(\)""".r

  private def scalaFiles(dir: File): Seq[File] = {
    assert(dir.isDirectory, s"$dir not found from ${new File(".").getAbsolutePath}")
    dir.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
  }

  private lazy val sources = scalaFiles(new File("src/main/scala"))

  /** `file:line: code` of every code line matching `rule` in a file
    * `exempt` does not name. */
  private def scan(rule: Regex, exempt: String => Boolean = _ => false): Seq[String] = for {
    f <- sources.filterNot(f => exempt(f.getName)).sortBy(_.getPath)
    (line, i) <- { val src = Source.fromFile(f, "UTF-8"); try src.getLines().toList finally src.close() }.zipWithIndex
    code = line.trim
    if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
    if rule.findFirstIn(line.replaceAll("//.*$", "")).nonEmpty
  } yield s"${f.getName}:${i + 1}: $code"

  test("only Materialize checkpoints or persists in engine code") {
    val found = scan(bare, _ == "Materialize.scala")
    assert(found.isEmpty, found.mkString(s"${found.size} materialised outside Materialize:\n", "\n", ""))
    assert(sources.exists(_.getName == "Materialize.scala"))
  }

  test("no engine code calls a native function by name") {
    val found = scan("""call_function\(""".r)
    assert(found.isEmpty, found.mkString(s"${found.size} call_function sites:\n", "\n", ""))
  }

  test("only Queries, Bench and Verify build a SparkSession") {
    val found = scan("""\.builder\(\)""".r, Set("Queries.scala", "Bench.scala", "Verify.scala"))
    assert(found.isEmpty, found.mkString(s"${found.size} session builders:\n", "\n", ""))
    assert(sources.exists(_.getName == "Queries.scala"))
  }
}
