package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{Cleaners, ExtractAll}
import graft.pipeline.CorpusGen

/** Pins the whole extraction kernel's output on the synthetic corpus with
  * one SHA-256:
  *
  *  - `extractRecord` and `outSpans` for `CorpusGen.genDoc(i, seed)`,
  *    i < 1000, seeds 42 and 7 (the English, DCCJ, Chinese and giant
  *    routes);
  *  - `extractInformation` on 200 fold-trap variants of the cleaned text:
  *    each line is kept, upper-cased, lower-cased or case-flipped, letters
  *    are swapped for their Unicode case-fold twins (ſ for s, the Kelvin
  *    sign for k, İ for i), U+10400 (which folds to U+10428) is inserted,
  *    one U+10400 straddles char 15000 (the layer-1 window edge), and every
  *    eighth variant carries a corrigendum notice (the corrigendum route,
  *    which CorpusGen never takes).
  *
  * A kernel change that is meant to alter output must update [[Expected]]
  * deliberately and name the changed fields; any other change must leave
  * it as it is. */
class KernelDigestSpec extends AnyFunSuite {

  private val Expected = "eed17a721d936199579ebaa9c834f4ba58532e252967b85c3e043e35c3eb577d"

  private val Deseret = "𐐀" // U+10400

  /** A deterministic case/fold mutation of `text`. */
  private def foldTrap(text: String, variant: Int): String = {
    val rng = new java.util.Random(1000L + variant)
    val lines = text.split("\n", -1).map { line =>
      rng.nextInt(4) match {
        case 0 => line
        case 1 => line.toUpperCase(java.util.Locale.ROOT)
        case 2 => line.toLowerCase(java.util.Locale.ROOT)
        case _ => line.map(c => if (c.isUpper) c.toLower else c.toUpper)
      }
    }
    val sb = new java.lang.StringBuilder(lines.mkString("\n"))
    var i = 0
    while (i < sb.length) {
      val r = rng.nextInt(40)
      sb.charAt(i) match {
        case 's' | 'S' if r == 0 => sb.setCharAt(i, 'ſ')
        case 'k' | 'K' if r == 0 => sb.setCharAt(i, 'K')
        case 'i' | 'I' if r == 0 => sb.setCharAt(i, 'İ')
        case ' ' if r == 1 => sb.insert(i + 1, Deseret); i += 2
        case _ =>
      }
      i += 1
    }
    if (variant % 8 == 0)
      sb.insert(0, "Please note the following corrigendum in the Judgment dated 12 March 2021.\n")
    if (sb.length > 15000) sb.insert(14999, Deseret)
    sb.toString
  }

  test("kernel output over the seeded corpus and the fold traps matches the pinned digest") {
    val md = MessageDigest.getInstance("SHA-256")
    def feed(s: String): Unit = {
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte)
    }
    for (seed <- Seq(42L, 7L); i <- 0L until 1000L) {
      val doc = CorpusGen.genDoc(i, seed)
      feed(ExtractAll.extractRecord(doc).toString)
      feed(ExtractAll.outSpans(doc).toString)
    }
    for (v <- 0 until 200) {
      val doc = CorpusGen.genDoc(v.toLong, 42L)
      val text = foldTrap(Cleaners.cleanPdfIndexArtifacts(ExtractAll.fullText(doc)), v)
      feed(ExtractAll.extractInformation(text, doc.doc_id, doc.doc_id + ".pdf").toString)
    }
    val digest = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(digest == Expected)
  }
}
