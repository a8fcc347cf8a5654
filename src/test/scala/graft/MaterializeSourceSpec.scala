package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Source check: `graft.pipeline.Materialize` is the one owner of every
  * materialised intermediate. Engine code cuts, persists and frees through
  * it, so `releaseCached` can free everything the engine made; a bare
  * `localCheckpoint(`, `.persist(` or `.cache()` anywhere else in
  * `src/main/scala` would escape that. Comment lines are ignored. */
class MaterializeSourceSpec extends AnyFunSuite {

  private val bare = """localCheckpoint\(|\.persist\(|\.cache\(\)""".r

  private def scalaFiles(dir: File): Seq[File] = {
    assert(dir.isDirectory, s"$dir not found from ${new File(".").getAbsolutePath}")
    dir.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
  }

  test("only Materialize checkpoints or persists in engine code") {
    val sources = scalaFiles(new File("src/main/scala"))
    val found = for {
      f <- sources.filter(_.getName != "Materialize.scala").sortBy(_.getPath)
      (line, i) <- { val src = Source.fromFile(f, "UTF-8"); try src.getLines().toList finally src.close() }.zipWithIndex
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
      if bare.findFirstIn(line.replaceAll("//.*$", "")).nonEmpty
    } yield s"${f.getName}:${i + 1}: $code"
    assert(found.isEmpty, found.mkString(s"${found.size} materialised outside Materialize:\n", "\n", ""))
    assert(sources.exists(_.getName == "Materialize.scala"))
  }
}
