package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.CharsetOps
import graft.plans.CharsetExprs

/** Charset sniff / transcode / mojibake kernels and their codegen'd
  * expression forms: BOM and strict-RFC-3629 detection pins, the WHATWG
  * windows-1252 table (including the five C1 fallback slots and the
  * 256-byte bijection), header-lies fallback, ftfy-style repair, and
  * kernel == native-expression equivalence through a real plan. */
class CharsetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-charset-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  // ------------------------------------------------------------------ sniff

  test("BOM sniff wins: UTF-8, UTF-16LE, UTF-16BE") {
    assert(CharsetOps.sniff(b(0xEF, 0xBB, 0xBF, 'h', 'i')) == "utf-8")
    assert(CharsetOps.sniff(b(0xFF, 0xFE, 'h', 0, 'i', 0)) == "utf-16le")
    assert(CharsetOps.sniff(b(0xFE, 0xFF, 0, 'h', 0, 'i')) == "utf-16be")
  }

  test("strict UTF-8: valid multibyte detects; ASCII-only labels ascii") {
    assert(CharsetOps.sniff("café №™".getBytes(StandardCharsets.UTF_8)) == "utf-8")
    assert(CharsetOps.sniff("plain ascii".getBytes(StandardCharsets.US_ASCII)) == "ascii")
    assert(CharsetOps.sniff(Array.empty[Byte]) == "ascii")
    // 4-byte plane-1 char (U+1F496) is valid UTF-8
    assert(CharsetOps.sniff(b('x', 0xF0, 0x9F, 0x92, 0x96)) == "utf-8")
  }

  test("RFC 3629 rejections fall to windows-1252") {
    assert(CharsetOps.sniff(b('x', 0xC0, 0x80)) == "windows-1252") // overlong NUL
    assert(CharsetOps.sniff(b('x', 0xED, 0xA0, 0x80)) == "windows-1252") // surrogate
    assert(CharsetOps.sniff(b('x', 0xF4, 0x90, 0x80, 0x80)) == "windows-1252") // > U+10FFFF
    assert(CharsetOps.sniff(b('x', 0xE9, ' ')) == "windows-1252") // bare lead byte
    assert(CharsetOps.sniff(b('x', 0xC3)) == "windows-1252") // truncated at EOF
    assert(CharsetOps.sniff(b(0xB1, 'x')) == "windows-1252") // bare continuation
  }

  // ---------------------------------------------------------- windows-1252

  test("WHATWG 1252 table: index chars, C1 fallback slots, bijection") {
    assert(CharsetOps.decode1252(b(0x80)) == "€") // €
    assert(CharsetOps.decode1252(b(0x99)) == "™") // ™
    assert(CharsetOps.decode1252(b(0x9C)) == "œ") // œ
    assert(CharsetOps.decode1252(b(0x81)) == "\u0081") // unassigned → C1
    assert(CharsetOps.decode1252(b(0x9D)) == "\u009D")
    assert(CharsetOps.decode1252(b(0xE9)) == "é")
    // the full 256-byte decode is a bijection: decode ∘ encode == id
    val all = Array.tabulate(256)(_.toByte)
    val rt = CharsetOps.encode1252(CharsetOps.decode1252(all))
    assert(rt != null && java.util.Arrays.equals(rt, all))
  }

  test("encode1252 strictness and encodeAs substitution") {
    assert(CharsetOps.encode1252("№") == null) // not representable
    assert(new String(CharsetOps.encodeAs("a№b", "windows-1252"),
      StandardCharsets.US_ASCII) == "a?b") // lossy sink form substitutes
    assert(new String(CharsetOps.encodeAs("a№b", "ascii"),
      StandardCharsets.US_ASCII) == "ab") // ascii sink drops
  }

  // ----------------------------------------------------------------- decode

  test("decode round-trips every label the sniffer can emit") {
    val s = "mixed — café № body ™"
    for (label <- Seq("utf-8", "utf-16le", "utf-16be", "windows-1252")) {
      val enc = CharsetOps.encodeAs(
        if (label == "windows-1252") "café ± only latin" else s, label)
      val dec = CharsetOps.decode(enc)
      assert(dec == (if (label == "windows-1252") "café ± only latin" else s),
        s"label=$label")
      if (label != "windows-1252") {
        // BOM-carrying wide encodings must sniff back to themselves;
        // BOM-less UTF-8 sniffs utf-8 via validation
        assert(CharsetOps.sniff(enc) == label)
      }
    }
    assert(CharsetOps.decode("plain".getBytes(StandardCharsets.US_ASCII)) == "plain")
  }

  test("decodeAs strips a BOM matching the label; unknown labels fall back") {
    assert(CharsetOps.decodeAs(b(0xEF, 0xBB, 0xBF, 'h', 'i'), "utf-8") == "hi")
    assert(CharsetOps.decodeAs(b(0xFF, 0xFE, 'h', 0), "utf-16le") == "h")
    assert(CharsetOps.decodeAs(b(0xE9), "no-such-charset") == "é")
    assert(CharsetOps.decodeAs(b(0xE9), "latin-1") == "é")
  }

  test("decodeAs honors correctly-labeled JDK legacy charsets (CJK/Cyrillic)") {
    // a correctly-labeled Shift_JIS / EUC-KR / KOI8-R page must decode
    // for real, not through the windows-1252 fallback (which yields
    // mojibake for every multi-byte encoding)
    for (label <- Seq("shift_jis", "euc-kr", "gbk", "big5", "koi8-r", "iso-8859-2")) {
      val cs = java.nio.charset.Charset.forName(label)
      val text = label match {
        case "shift_jis" => "日本語テスト"
        case "euc-kr"    => "한국어"
        case "gbk"       => "中文测试"
        case "big5"      => "中文測試"
        case "koi8-r"    => "русский"
        case _           => "żółć" // iso-8859-2 Polish
      }
      assert(CharsetOps.decodeAs(text.getBytes(cs), label) == text, s"label=$label")
    }
    // undecodable bytes under a known charset REPLACE, never throw
    val bad = b(0x81, 0x39) // invalid Shift_JIS trail byte
    assert(CharsetOps.decodeAs(bad, "shift_jis") != null)
  }

  test("decodeWithHeader: a lying utf-8 header falls back to the sniff") {
    val cp = CharsetOps.encodeAs("café ±", "windows-1252")
    assert(CharsetOps.decodeWithHeader(cp, "utf-8") == "café ±") // lie detected
    val ok = "café".getBytes(StandardCharsets.UTF_8)
    assert(CharsetOps.decodeWithHeader(ok, "utf-8") == "café") // honest header
    assert(CharsetOps.decodeWithHeader(ok, null) == "café") // no header → sniff
    // an honest 1252 header is trusted even though bytes alone would too
    assert(CharsetOps.decodeWithHeader(cp, "windows-1252") == "café ±")
  }

  // --------------------------------------------------------------- mojibake

  test("fixMojibake repairs the canonical utf-8-as-1252 mangle") {
    val orig = "résumé — café № fin"
    val mangled = CharsetOps.decode1252(orig.getBytes(StandardCharsets.UTF_8))
    assert(mangled != orig && mangled.contains("Ã©"))
    assert(CharsetOps.fixMojibake(mangled) == orig)
  }

  test("fixMojibake repairs double-mangled text and bounds iteration") {
    val orig = "naïve café"
    val once = CharsetOps.decode1252(orig.getBytes(StandardCharsets.UTF_8))
    val twice = CharsetOps.decode1252(once.getBytes(StandardCharsets.UTF_8))
    assert(CharsetOps.fixMojibake(twice) == orig)
  }

  test("fixMojibake leaves text it cannot have produced unchanged") {
    assert(CharsetOps.fixMojibake("plain ascii") == "plain ascii")
    // № is not windows-1252-encodable: cannot be a 1252 mis-decode
    assert(CharsetOps.fixMojibake("café № fin") == "café № fin")
    // single high-byte char whose 1252 byte is not valid UTF-8
    assert(CharsetOps.fixMojibake("café") == "café")
    assert(CharsetOps.fixMojibake("") == "")
  }

  test("fixMojibake: the genuinely ambiguous 'Ã©' is resolved as mojibake") {
    // documented bias: a string that IS exactly a 1252 view of valid
    // multibyte UTF-8 gets repaired — the ftfy default
    assert(CharsetOps.fixMojibake("Ã©") == "é")
  }

  // ------------------------------------------------- expressions via a plan

  test("native expressions match the kernel through a real plan") {
    val rows = Seq(
      ("utf-8", "body — café №"),
      ("utf-16le", "wide • body"),
      ("utf-16be", "wide be"),
      ("windows-1252", "café ± latin"),
      ("ascii", "plain body"))
    val df = spark.createDataFrame(rows).toDF("label", "text")
      .select(col("label"), col("text"),
        CharsetExprs.charset_encode(col("text"), col("label")).as("bytes"))
      .select(col("label"), col("text"), col("bytes"),
        CharsetExprs.charset_sniff(col("bytes")).as("sniffed"),
        CharsetExprs.charset_decode(col("bytes")).as("decoded"),
        CharsetExprs.fix_mojibake(
          CharsetExprs.charset_decode_as(
            CharsetExprs.charset_encode(col("text"), lit("utf-8")),
            lit("windows-1252"))).as("fixed"))
    val got = df.collect()
    got.foreach { r =>
      val label = r.getString(0); val text = r.getString(1)
      val expectSniff = if (label == "ascii") "ascii" else label
      assert(r.getString(3) == expectSniff, s"sniff for $label")
      assert(r.getString(4) == text, s"decode round trip for $label")
      assert(r.getString(5) == text, s"mojibake repair for $label")
      // and the expression agrees with the kernel on the same bytes
      assert(CharsetOps.sniff(r.getAs[Array[Byte]](2)) == expectSniff)
    }
  }

  test("expressions are null-safe and total on empty input") {
    graft.plans.NativeFunctions.register(spark)
    val df = spark.sql(
      "SELECT charset_sniff(CAST(NULL AS BINARY)) AS a, " +
        "charset_decode(CAST('' AS BINARY)) AS b, " +
        "fix_mojibake(CAST(NULL AS STRING)) AS c")
    val r = df.collect()(0)
    assert(r.isNullAt(0) && r.getString(1) == "" && r.isNullAt(2))
  }
}
