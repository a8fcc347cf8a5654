package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{CorpusGen, MediaJob}
import graft.streaming.StreamingExtract

class StreamingMediaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-streaming-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("graft-sm").toString

  test("streaming ingestion extracts incrementally with exactly-once per file") {
    import spark.implicits._
    val base = tmp()
    val docsPath = s"$base/docs"
    val outPath = s"$base/records"
    val ckpt = s"$base/ckpt"

    // batch 1 lands
    CorpusGen.generate(spark, 40, 2).write.mode("append").parquet(docsPath)
    val q1 = StreamingExtract.start(spark, docsPath, outPath, ckpt)
    q1.awaitTermination()
    val n1 = spark.read.parquet(outPath).count()
    assert(n1 == 40L)

    // batch 2 lands; restart processes ONLY the new files
    CorpusGen.generate(spark, 25, 2, seed = 43L).write.mode("append").parquet(docsPath)
    val q2 = StreamingExtract.start(spark, docsPath, outPath, ckpt)
    q2.awaitTermination()
    val out = spark.read.parquet(outPath)
    assert(out.count() == 65L, "restart must process only newly landed files")
    assert(out.select("doc_id").distinct().count() == 65L)
  }

  test("probeHeader parses real PNG/JPEG/WAV container headers (no codec lib)") {
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def be16(v: Int) = Array[Byte]((v >> 8).toByte, v.toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)

    // PNG: 8-byte signature + IHDR chunk (len, "IHDR", width, height, ...)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++
      Array[Byte](8, 6, 0, 0, 0)
    assert(MediaJob.probeHeader("image", png) == Some((640, 480, 3)))

    // JPEG: SOI, APP0 (skipped), SOF0 with precision/height/width/components
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte) ++
      Array[Byte](0xff.toByte, 0xe0.toByte) ++ be16(6) ++ "JFIF".getBytes ++
      Array[Byte](0xff.toByte, 0xc0.toByte) ++ be16(11) ++ Array[Byte](8) ++
      be16(333) ++ be16(555) ++ Array[Byte](3, 0, 0)
    assert(MediaJob.probeHeader("image", jpeg) == Some((555, 333, 3)))

    // WAV: RIFF/WAVE, fmt (PCM stereo 16-bit @44100), data of 88200 bytes
    val fmtBody = le16(1) ++ le16(2) ++ le32(44100) ++ le32(176400) ++
      le16(4) ++ le16(16)
    val wav = "RIFF".getBytes ++ le32(36 + 88200) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ fmtBody ++
      "data".getBytes ++ le32(88200) ++ Array.fill[Byte](16)(0)
    assert(MediaJob.probeHeader("audio", wav) == Some((44100, 22050, 1)))

    // unrecognized bytes fall back to the deterministic fake
    assert(MediaJob.probeHeader("image", "not a container".getBytes).isEmpty)
    assert(MediaJob.probeHeader("image", null).isEmpty)
    val (d1, d2, d3, feat) = MediaJob.decodeStub("image", png)
    assert((d1, d2, d3) == (640, 480, 3) && feat.length == 16,
      "decodeStub must use the REAL header dims when the container parses")
  }

  // Independent PNG encoder for the decode tests: Deflater + CRC32 over
  // hand-assembled chunks, with the FORWARD row filters implemented here
  // (so the kernel's unfilter is checked against a separate derivation).
  private def be32(v: Int) =
    Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32()
    crc.update(typ.getBytes("US-ASCII")); crc.update(data)
    be32(data.length) ++ typ.getBytes("US-ASCII") ++ data ++ be32(crc.getValue.toInt)
  }
  private def encodePng(w: Int, h: Int, colorType: Int, raw: Array[Byte],
                        bitDepth: Int = 8, interlace: Int = 0,
                        palette: Array[Byte] = null): Array[Byte] = {
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    val ihdr = be32(w) ++ be32(h) ++
      Array[Byte](bitDepth.toByte, colorType.toByte, 0, 0, interlace.toByte)
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](raw.length + 128)
    val n = d.deflate(buf)
    d.end()
    sig ++ pngChunk("IHDR", ihdr) ++
      (if (palette != null) pngChunk("PLTE", palette) else Array.empty[Byte]) ++
      pngChunk("IDAT", buf.take(n)) ++ pngChunk("IEND", Array.empty[Byte])
  }

  test("PNG pixel decode: inflate + unfilter recovers known pixels (RGB, filter 0)") {
    // 8x8 RGB: left half black, right half white, all rows filter 0
    val w = 8; val h = 8
    val rows = (0 until h).flatMap { _ =>
      0.toByte +: (0 until w).flatMap { x =>
        val v: Byte = if (x < w / 2) 0 else 0xff.toByte
        Seq(v, v, v)
      }
    }.toArray
    val png = encodePng(w, h, 2, rows)
    val (d1, d2, d3, feat) = MediaJob.decodeStub("image", png)
    assert((d1, d2, d3) == (8, 8, 3))
    // 4x4 grid: columns 0-1 over the black half -> -0.5, columns 2-3 -> +0.5
    for (gy <- 0 until 4; gx <- 0 until 4) {
      val expect = if (gx < 2) -0.5f else 0.5f
      assert(math.abs(feat(gy * 4 + gx) - expect) < 1e-3,
        s"cell ($gy,$gx): ${feat(gy * 4 + gx)} vs $expect")
    }
  }

  test("PNG pixel decode: all four non-trivial filters round-trip (grayscale)") {
    // 4x4 grayscale, one row per filter type 1/2/3/4, forward-filtered here
    val w = 4; val h = 4
    val px = Array(
      Array(10, 60, 110, 160),
      Array(35, 85, 135, 185),
      Array(50, 100, 150, 200),
      Array(75, 125, 175, 225))
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val raw = new scala.collection.mutable.ArrayBuffer[Byte]()
    for (y <- 0 until h) {
      val f = y + 1 // filters 1,2,3,4
      raw += f.toByte
      for (x <- 0 until w) {
        val cur = px(y)(x)
        val left = if (x > 0) px(y)(x - 1) else 0
        val up = if (y > 0) px(y - 1)(x) else 0
        val ul = if (y > 0 && x > 0) px(y - 1)(x - 1) else 0
        val filtered = f match {
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case 4 => cur - paeth(left, up, ul)
        }
        raw += (filtered & 0xff).toByte
      }
    }
    val png = encodePng(w, h, 0, raw.toArray)
    val (d1, d2, d3, feat) = MediaJob.decodeStub("image", png)
    assert((d1, d2, d3) == (4, 4, 1))
    // 4x4 image under a 4x4 grid: one pixel per cell, exactly recoverable
    for (y <- 0 until 4; x <- 0 until 4)
      assert(math.abs(feat(y * 4 + x) - (px(y)(x) / 255.0f - 0.5f)) < 1e-4,
        s"pixel ($y,$x) not recovered: ${feat(y * 4 + x)}")
  }

  test("PNG 16-bit grayscale: big-endian pairs, 2-byte filter step, high-byte reduction") {
    val w = 4; val h = 2
    // low bytes deliberately non-zero: reduction must take the HIGH byte
    val px = Array(Array(0x1020, 0x3040, 0x5060, 0x7080),
                   Array(0x20ff, 0x4001, 0x60aa, 0x8055))
    val raw = new scala.collection.mutable.ArrayBuffer[Byte]()
    raw += 0 // row 0: filter None, raw big-endian pairs
    for (x <- 0 until w) { raw += (px(0)(x) >> 8).toByte; raw += (px(0)(x) & 0xff).toByte }
    raw += 1 // row 1: filter Sub — the byte step must be 2 (one 16-bit sample)
    val row1 = px(1).flatMap(v => Seq((v >> 8).toByte, (v & 0xff).toByte))
    for (i <- row1.indices) {
      val left = if (i >= 2) row1(i - 2) & 0xff else 0
      raw += (((row1(i) & 0xff) - left) & 0xff).toByte
    }
    val png = encodePng(w, h, 0, raw.toArray, bitDepth = 16)
    val (dw, dh, ch, luma) = MediaJob.decodePngLuma(png).get
    assert((dw, dh, ch) == (4, 2, 1))
    for (y <- 0 until h; x <- 0 until w)
      assert(luma(y * w + x) == (px(y)(x) >> 8).toFloat, s"($y,$x): ${luma(y * w + x)}")
  }

  test("PNG sub-8-bit depths: 1-bit grayscale scales to 0/255; 4-bit palette indexes PLTE") {
    // 8x2 1-bit checkerboard: bits pack MSB-first, one byte per row
    val png1 = encodePng(8, 2, 0, Array[Byte](0, 0xaa.toByte, 0, 0x55), bitDepth = 1)
    val (w1, h1, _, luma1) = MediaJob.decodePngLuma(png1).get
    assert((w1, h1) == (8, 2))
    for (x <- 0 until 8) {
      assert(luma1(x) == (if (x % 2 == 0) 255f else 0f), s"row0 x=$x") // 0xaa
      assert(luma1(8 + x) == (if (x % 2 == 0) 0f else 255f), s"row1 x=$x") // 0x55
    }
    // 3x1 4-bit palette (odd width: the row pads to a whole byte):
    // indices 0,1,2 → gray PLTE entries 0/100/200
    val plte = Array[Byte](0, 0, 0, 100, 100, 100, 200.toByte, 200.toByte, 200.toByte)
    val png4 = encodePng(3, 1, 3, Array[Byte](0, 0x01, 0x20), bitDepth = 4, palette = plte)
    val (w4, _, _, luma4) = MediaJob.decodePngLuma(png4).get
    assert(w4 == 3)
    for ((expect, x) <- Seq(0f, 100f, 200f).zipWithIndex)
      assert(math.abs(luma4(x) - expect) < 1e-3, s"palette pixel $x: ${luma4(x)}")
  }

  test("PNG Adam7 interlace: independently-filtered passes scatter back exactly") {
    val adam7 = Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    // 8x8 covers every pass; 5x3 leaves some passes empty (they must
    // contribute zero bytes on both sides)
    for ((w, h) <- Seq((8, 8), (5, 3))) {
      val px = Array.tabulate(h, w)((y, x) => (y * w + x) * 7 % 256)
      val raw = new scala.collection.mutable.ArrayBuffer[Byte]()
      for ((x0, y0, dx, dy) <- adam7) {
        val xs = x0 until w by dx
        var prev: Array[Int] = null
        if (xs.nonEmpty) for (y <- y0 until h by dy) {
          val row = xs.map(px(y)(_)).toArray
          if (prev == null) { raw += 0; row.foreach(v => raw += v.toByte) }
          else { // filter Up INSIDE the pass: prior row is the pass's own
            raw += 2
            for (i <- row.indices) raw += ((row(i) - prev(i)) & 0xff).toByte
          }
          prev = row
        }
      }
      val png = encodePng(w, h, 0, raw.toArray, interlace = 1)
      val (dw, dh, ch, luma) = MediaJob.decodePngLuma(png).get
      assert((dw, dh, ch) == (w, h, 1), s"${w}x$h")
      for (y <- 0 until h; x <- 0 until w)
        assert(luma(y * w + x) == px(y)(x).toFloat, s"${w}x$h ($y,$x)")
    }
  }

  // ---------------------------------------------------- independent JPEG
  // Forward baseline-JPEG encoder written HERE, from ITU T.81 Annex A/C/F
  // directly (FDCT + quantize + canonical Huffman + bit stuffing) — shares
  // no code with MediaJob's decoder, so agreement pins both against the
  // published spec rather than against each other.

  private def be16(v: Int) = Array[Byte]((v >> 8).toByte, v.toByte)

  /** Canonical Huffman: every symbol at code length 8 (valid while
    * n ≤ 255; the all-ones byte stays unused as T.81 requires). */
  private final class TestHuff(symbols: Array[Int]) {
    require(symbols.length <= 255)
    val codeOf: Map[Int, (Int, Int)] =
      symbols.zipWithIndex.map { case (s, i) => s -> (i, 8) }.toMap
    def dht(tc: Int, th: Int): Array[Byte] = {
      val counts = new Array[Byte](16); counts(7) = symbols.length.toByte
      Array[Byte](((tc << 4) | th).toByte) ++ counts ++ symbols.map(_.toByte)
    }
  }

  private final class TestBitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0; private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1); n += 1
        if (n == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00) // byte stuffing
          acc = 0; n = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = while (n != 0) put(1, 1) // pad with 1-bits
    def bytes: Array[Byte] = out.toByteArray
  }

  private def fdctQuant(block: Array[Int], q: Array[Int]): Array[Int] = {
    // T.81 A.3.3 forward DCT on level-shifted samples, then quantize;
    // output in ZIGZAG order to mirror the stream layout
    val zz = Array(
      0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)
    val f = new Array[Int](64)
    for (v <- 0 until 8; u <- 0 until 8) {
      var s = 0.0
      for (y <- 0 until 8; x <- 0 until 8)
        s += (block(y * 8 + x) - 128) *
          math.cos((2 * x + 1) * u * math.Pi / 16) *
          math.cos((2 * y + 1) * v * math.Pi / 16)
      val cu = if (u == 0) 1 / math.sqrt(2) else 1.0
      val cv = if (v == 0) 1 / math.sqrt(2) else 1.0
      f(v * 8 + u) = math.round(cu * cv / 4 * s / q(zzIndexOf(zz, v * 8 + u))).toInt
    }
    Array.tabulate(64)(k => f(zz(k)))
  }
  private def zzIndexOf(zz: Array[Int], natural: Int): Int = zz.indexOf(natural)

  /** Encode one component's 8x8 coefficient block (zigzag order). */
  private def encodeBlock(bw: TestBitWriter, coefZz: Array[Int], dcPred: Int,
                          dc: TestHuff, ac: TestHuff): Int = {
    def mag(v: Int): (Int, Int) = { // (size, value bits)
      val a = math.abs(v)
      var s = 0
      while ((a >> s) != 0) s += 1
      (s, if (v >= 0) v else v + (1 << s) - 1)
    }
    val (ds, dv) = mag(coefZz(0) - dcPred)
    val (dcode, dlen) = dc.codeOf(ds)
    bw.put(dcode, dlen); bw.put(dv, ds)
    var k = 1
    var run = 0
    while (k < 64) {
      if (coefZz(k) == 0) run += 1
      else {
        while (run > 15) {
          val (c, l) = ac.codeOf(0xf0); bw.put(c, l); run -= 16 // ZRL
        }
        val (s, v) = mag(coefZz(k))
        val (c, l) = ac.codeOf((run << 4) | s)
        bw.put(c, l); bw.put(v, s)
        run = 0
      }
      k += 1
    }
    if (run > 0) { val (c, l) = ac.codeOf(0x00); bw.put(c, l) } // EOB
    coefZz(0)
  }

  /** Standalone grayscale baseline JPEG of `px` (w×h, row-major 0-255),
    * optional restart interval. Returns (bytes, expected decoded pixels)
    * where the expectation is THIS encoder's own dequantize+IDCT replay —
    * independent double math, not the decoder's. */
  private def encodeGrayJpeg(w: Int, h: Int, px: Array[Int], q: Array[Int],
                             dri: Int = 0): (Array[Byte], Array[Int]) = {
    val dcT = new TestHuff((0 to 11).toArray)
    val acT = new TestHuff(
      (0x00 +: 0xf0 +: (for (r <- 0 to 15; s <- 1 to 10) yield (r << 4) | s)).toArray)
    val out = new java.io.ByteArrayOutputStream()
    def seg(marker: Int, body: Array[Byte]): Unit = {
      out.write(0xff); out.write(marker)
      out.write(be16(body.length + 2)); out.write(body)
    }
    out.write(0xff); out.write(0xd8) // SOI
    seg(0xdb, Array[Byte](0x00) ++ q.map(_.toByte))                 // DQT id 0
    seg(0xc0, Array[Byte](8) ++ be16(h) ++ be16(w) ++
      Array[Byte](1, 1, 0x11, 0))                                   // SOF0 gray
    seg(0xc4, dcT.dht(0, 0)); seg(0xc4, acT.dht(1, 0))              // DHT
    if (dri > 0) seg(0xdd, be16(dri))                               // DRI
    seg(0xda, Array[Byte](1, 1, 0x00, 0, 63, 0))                    // SOS
    val mcusX = (w + 7) / 8; val mcusY = (h + 7) / 8
    val expect = new Array[Int](w * h)
    var bw = new TestBitWriter
    var dcPred = 0
    var mcu = 0
    while (mcu < mcusX * mcusY) {
      if (dri > 0 && mcu > 0 && mcu % dri == 0) {
        bw.flush(); out.write(bw.bytes)
        out.write(0xff); out.write(0xd0 + ((mcu / dri - 1) % 8)) // RSTn
        bw = new TestBitWriter; dcPred = 0
      }
      val mx = mcu % mcusX; val my = mcu / mcusX
      // edge blocks replicate the last row/col (standard practice)
      val block = Array.tabulate(64) { i =>
        val x = math.min(w - 1, mx * 8 + i % 8)
        val y = math.min(h - 1, my * 8 + i / 8)
        px(y * w + x)
      }
      val coefZz = fdctQuant(block, q)
      dcPred = encodeBlock(bw, coefZz, dcPred, dcT, acT)
      // expectation: dequantize + plain-double IDCT + shift/clamp
      for (yy <- 0 until 8; xx <- 0 until 8) {
        val gx = mx * 8 + xx; val gy = my * 8 + yy
        if (gx < w && gy < h) {
          var s = 0.0
          for (v <- 0 until 8; u <- 0 until 8) {
            val cu = if (u == 0) 1 / math.sqrt(2) else 1.0
            val cv = if (v == 0) 1 / math.sqrt(2) else 1.0
            val zz = fdctZz
            s += cu * cv / 4 * coefZz(zz.indexOf(v * 8 + u)) * q(zz.indexOf(v * 8 + u)) *
              math.cos((2 * xx + 1) * u * math.Pi / 16) *
              math.cos((2 * yy + 1) * v * math.Pi / 16)
          }
          expect(gy * w + gx) = math.max(0, math.min(255, math.round(s + 128).toInt))
        }
      }
      mcu += 1
    }
    bw.flush(); out.write(bw.bytes)
    out.write(0xff); out.write(0xd9) // EOI
    (out.toByteArray, expect)
  }
  private val fdctZz = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // ------------------------------------------- independent PROGRESSIVE JPEG
  // Forward progressive encoder written HERE from T.81 Annex G directly
  // (spectral selection, successive approximation, EOB runs, refinement
  // correction-bit buffering) — shares no code with MediaJob's decoder.

  private def jpegMag(v: Int): (Int, Int) = { // (size, value bits)
    val a = math.abs(v)
    var s = 0
    while ((a >> s) != 0) s += 1
    (s, if (v >= 0) v else v + (1 << s) - 1)
  }

  /** Grayscale progressive JPEG over the scan script `scans` of
    * (Ss, Se, Ah, Al). With `chroma = true`, a 3-component frame whose
    * Cb/Cr planes are constant 128 (all-zero coefficients): the DC scan
    * becomes interleaved (ns=3) and all-zero chroma AC scans are
    * appended — luma pixels are unchanged either way. */
  private def encodeGrayProgressiveJpeg(w: Int, h: Int, px: Array[Int], q: Array[Int],
                                        scans: Seq[(Int, Int, Int, Int)],
                                        chroma: Boolean = false): Array[Byte] = {
    val dcT = new TestHuff((0 to 11).toArray)
    val acT = new TestHuff(((0 to 14).map(r => r << 4) ++ Seq(0xf0) ++
      (for (r <- 0 to 15; s <- 1 to 10) yield (r << 4) | s)).toArray)
    val mcusX = (w + 7) / 8; val mcusY = (h + 7) / 8
    val blocks = Array.tabulate(mcusX * mcusY) { mcu =>
      val mx = mcu % mcusX; val my = mcu / mcusX
      fdctQuant(Array.tabulate(64) { i =>
        val x = math.min(w - 1, mx * 8 + i % 8)
        val y = math.min(h - 1, my * 8 + i / 8)
        px(y * w + x)
      }, q)
    }
    val out = new java.io.ByteArrayOutputStream()
    def seg(marker: Int, body: Array[Byte]): Unit = {
      out.write(0xff); out.write(marker)
      out.write(be16(body.length + 2)); out.write(body)
    }
    out.write(0xff); out.write(0xd8)
    seg(0xdb, Array[Byte](0x00) ++ q.map(_.toByte))
    val ncomp = if (chroma) 3 else 1
    seg(0xc2, Array[Byte](8) ++ be16(h) ++ be16(w) ++
      Array[Byte](ncomp.toByte) ++
      Array.tabulate(ncomp * 3)(i => i % 3 match {
        case 0 => (i / 3 + 1).toByte // component id 1..n
        case 1 => 0x11.toByte        // sampling 1x1
        case 2 => 0.toByte           // quant table 0
      }))
    seg(0xc4, dcT.dht(0, 0)); seg(0xc4, acT.dht(1, 0))
    for ((ss, se, ah, al) <- scans) {
      val bw = new TestBitWriter
      if (ss == 0 && chroma) {
        // interleaved DC scan over all three components (sampling 1x1:
        // one block per component per MCU; chroma DC is always 0)
        seg(0xda, Array[Byte](3, 1, 0, 2, 0, 3, 0,
          ss.toByte, se.toByte, ((ah << 4) | al).toByte))
        val pred = new Array[Int](3)
        for (blk <- blocks; c <- 0 until 3) {
          val dc = if (c == 0) blk(0) else 0
          if (ah == 0) {
            val v = dc >> al
            val (s, bits) = jpegMag(v - pred(c)); pred(c) = v
            val (code, len) = dcT.codeOf(s)
            bw.put(code, len); bw.put(bits, s)
          } else bw.put((dc >> al) & 1, 1)
        }
      } else {
        seg(0xda, Array[Byte](1, 1, 0,
          ss.toByte, se.toByte, ((ah << 4) | al).toByte))
        if (ss == 0) {
          var pred = 0
          for (blk <- blocks) {
            if (ah == 0) {
              val v = blk(0) >> al // arithmetic shift: two's-complement plane
              val (s, bits) = jpegMag(v - pred); pred = v
              val (code, len) = dcT.codeOf(s)
              bw.put(code, len); bw.put(bits, s)
            } else bw.put((blk(0) >> al) & 1, 1)
          }
        } else if (ah == 0) {
          // AC first pass at bit plane Al, with cross-block EOB runs
          var eobRun = 0
          def flushEob(): Unit = if (eobRun > 0) {
            var n = 0
            while ((1 << (n + 1)) <= eobRun) n += 1
            val (code, len) = acT.codeOf(n << 4)
            bw.put(code, len)
            if (n > 0) bw.put(eobRun - (1 << n), n)
            eobRun = 0
          }
          for (blk <- blocks) {
            // point transform is magnitude shift (toward zero), NOT >>
            val vals = (ss to se).map { k =>
              val c = blk(k); val m = math.abs(c) >> al
              if (c < 0) -m else m
            }
            if (vals.forall(_ == 0)) {
              eobRun += 1
              if (eobRun == 32767) flushEob()
            } else {
              flushEob()
              var run = 0
              var last = -1
              for ((v, idx) <- vals.zipWithIndex; if v != 0) {
                run = idx - last - 1; last = idx
                while (run > 15) {
                  val (c0, l0) = acT.codeOf(0xf0); bw.put(c0, l0); run -= 16
                }
                val (s, bits) = jpegMag(v)
                val (code, len) = acT.codeOf((run << 4) | s)
                bw.put(code, len); bw.put(bits, s)
              }
              if (last < vals.length - 1) eobRun += 1 // trailing zeros
            }
          }
          flushEob()
        } else {
          // AC refinement (G.1.2.3): correction bits for history-nonzero
          // coefficients ride each symbol's span in coefficient order;
          // EOB-run tails buffer their corrections until the run flushes
          var eobRun = 0
          val eobBits = scala.collection.mutable.ArrayBuffer[Int]()
          def flushEob(): Unit = if (eobRun > 0) {
            var n = 0
            while ((1 << (n + 1)) <= eobRun) n += 1
            val (code, len) = acT.codeOf(n << 4)
            bw.put(code, len)
            if (n > 0) bw.put(eobRun - (1 << n), n)
            eobBits.foreach(bit => bw.put(bit, 1))
            eobBits.clear(); eobRun = 0
          }
          for (blk <- blocks) {
            // tokens since the last emitted symbol: -1 = zero-history zero,
            // 0/1 = correction bit of a history-nonzero coefficient
            val toks = scala.collection.mutable.ArrayBuffer[Int]()
            for (k <- ss to se) {
              val c = blk(k); val ab = math.abs(c) >> al
              if (ab == 0) toks += -1
              else if (ab > 1) toks += (ab & 1)
              else { // newly significant at this bit plane
                flushEob()
                var zeros = toks.count(_ == -1)
                while (zeros > 15) { // ZRL spans exactly 16 zero-history slots
                  val (c0, l0) = acT.codeOf(0xf0); bw.put(c0, l0)
                  var z = 0
                  while (z < 16) {
                    val t = toks.remove(0)
                    if (t == -1) z += 1 else bw.put(t, 1)
                  }
                  zeros -= 16
                }
                val (code, len) = acT.codeOf((zeros << 4) | 1)
                bw.put(code, len)
                bw.put(if (c >= 0) 1 else 0, 1) // sign
                toks.foreach(t => if (t != -1) bw.put(t, 1))
                toks.clear()
              }
            }
            if (toks.nonEmpty) { // trailing zeros/corrections → EOB run
              eobRun += 1
              toks.foreach(t => if (t != -1) eobBits += t)
              if (eobRun == 32767) flushEob()
            }
          }
          flushEob()
        }
      }
      bw.flush(); out.write(bw.bytes)
    }
    if (chroma) {
      // all-zero chroma AC scans (one EOB run each) — the decoder must
      // SKIP these byte-wise without touching the luma plane
      for (cid <- 2 to 3) {
        seg(0xda, Array[Byte](1, cid.toByte, 0, 1, 63, 0))
        val bw = new TestBitWriter
        var run = blocks.length
        while (run > 0) { // EOBn covers ≤ 32767 blocks
          val chunk = math.min(run, 32767)
          var n = 0
          while ((1 << (n + 1)) <= chunk) n += 1
          val (code, len) = acT.codeOf(n << 4)
          bw.put(code, len)
          if (n > 0) bw.put(chunk - (1 << n), n)
          run -= chunk
        }
        bw.flush(); out.write(bw.bytes)
      }
    }
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }

  test("JPEG progressive decode: spectral-selection scans reproduce the baseline pixels") {
    // smooth gradient → high-frequency bands all-zero for many blocks,
    // exercising cross-block EOB runs in the AC-first path
    val w = 32; val h = 24
    val px = Array.tabulate(w * h)(i => ((i % w) * 3 + (i / w) * 2) % 256)
    val q = Array.tabulate(64)(k => 1 + k / 4)
    val (baseBytes, _) = encodeGrayJpeg(w, h, px, q)
    val base = MediaJob.decodeJpegLuma(baseBytes).get
    val prog = encodeGrayProgressiveJpeg(w, h, px, q,
      Seq((0, 0, 0, 0), (1, 5, 0, 0), (6, 63, 0, 0)))
    val got = MediaJob.decodeJpegLuma(prog)
    assert(got.isDefined, "decoder rejected a valid spectral-selection progressive JPEG")
    val (dw, dh, dch, luma) = got.get
    assert((dw, dh, dch) == (w, h, 1))
    // identical coefficients on both paths → identical pixels, exactly
    assert(luma.sameElements(base._4), "progressive != baseline reconstruction")
    // dispatch lands on tier 1: pooled REAL pixels
    val (_, _, _, feat) = MediaJob.decodeStub("image", prog)
    assert(feat.sameElements(MediaJob.gridPool16(w, h, luma)))
  }

  test("JPEG progressive decode: successive approximation refines DC and AC to exact bits") {
    // busier texture: refinement scans carry real correction bits, and
    // negative coefficients exercise the sign-magnitude AC plane logic
    val w = 24; val h = 24
    val px = Array.tabulate(w * h)(i => ((i % w) * 11 + (i / w) * 17 + (i % 7) * 29) % 256)
    val q = Array.tabulate(64)(k => 1 + k / 8)
    val (baseBytes, _) = encodeGrayJpeg(w, h, px, q)
    val base = MediaJob.decodeJpegLuma(baseBytes).get
    val prog = encodeGrayProgressiveJpeg(w, h, px, q, Seq(
      (0, 0, 0, 1),   // DC, high bits
      (1, 63, 0, 2),  // AC first at plane 2
      (0, 0, 1, 0),   // DC refinement: final bit
      (1, 63, 2, 1),  // AC refinement 2 → 1
      (1, 63, 1, 0))) // AC refinement 1 → 0: all bits restored
    val got = MediaJob.decodeJpegLuma(prog)
    assert(got.isDefined, "decoder rejected a valid successive-approximation JPEG")
    assert(got.get._4.sameElements(base._4),
      "successive approximation must restore the exact baseline coefficients")
  }

  test("JPEG progressive decode: interleaved DC scan and byte-skipped chroma scans") {
    val w = 16; val h = 16
    val px = Array.tabulate(w * h)(i => (i * 5) % 256)
    val q = Array.tabulate(64)(k => 1 + k / 8)
    val (baseBytes, _) = encodeGrayJpeg(w, h, px, q)
    val base = MediaJob.decodeJpegLuma(baseBytes).get
    // 3-component frame, constant-128 chroma: interleaved ns=3 DC scan,
    // then a luma AC scan, then all-zero chroma AC scans the decoder skips
    val prog = encodeGrayProgressiveJpeg(w, h, px, q,
      Seq((0, 0, 0, 0), (1, 63, 0, 0)), chroma = true)
    val got = MediaJob.decodeJpegLuma(prog)
    assert(got.isDefined, "decoder rejected a valid interleaved-DC progressive JPEG")
    val (dw, dh, dch, luma) = got.get
    assert((dw, dh, dch) == (w, h, 3))
    assert(luma.sameElements(base._4), "luma must be unaffected by chroma scans")
  }

  test("JPEG baseline decode: Huffman+IDCT pixels match an independent encoder's replay") {
    // textured 24x16 gradient — exercises DC diffs and a spread of AC runs
    val w = 24; val h = 16
    val px = Array.tabulate(w * h)(i => ((i % w) * 7 + (i / w) * 13 + (i % 5) * 31) % 256)
    val q = Array.tabulate(64)(k => 1 + k / 8) // mild quant, all ≥ 1
    val (bytes, expect) = encodeGrayJpeg(w, h, px, q)
    val got = MediaJob.decodeJpegLuma(bytes)
    assert(got.isDefined, "decoder rejected a valid baseline JPEG")
    val (dw, dh, dch, luma) = got.get
    assert((dw, dh, dch) == (w, h, 1))
    for (i <- 0 until w * h)
      assert(math.abs(luma(i) - expect(i)) <= 1.0f,
        s"pixel $i: decoded ${luma(i)} vs expected ${expect(i)}")
    // and the dispatch uses the real pixels: feature == gridPool16(luma)
    val (_, _, _, feat) = MediaJob.decodeStub("image", bytes)
    val pool = MediaJob.gridPool16(dw, dh, luma)
    assert(feat.sameElements(pool), "decodeStub must pool the DECODED pixels")
  }

  test("JPEG decode honors restart intervals (DRI + RSTn, DC predictor reset)") {
    val w = 32; val h = 8 // 4 MCUs in a row, RST every 2
    val px = Array.tabulate(w * h)(i => (i * 11) % 256)
    val q = Array.fill(64)(2)
    val (bytes, expect) = encodeGrayJpeg(w, h, px, q, dri = 2)
    val got = MediaJob.decodeJpegLuma(bytes)
    assert(got.isDefined, "decoder rejected a restart-marker stream")
    val (dw, dh, _, luma) = got.get
    assert((dw, dh) == (w, h))
    for (i <- 0 until w * h)
      assert(math.abs(luma(i) - expect(i)) <= 1.0f,
        s"pixel $i: decoded ${luma(i)} vs expected ${expect(i)}")
  }

  test("JPEG decode rejects ill-formed scan scripts and truncated streams (falls back, never throws)") {
    val w = 8; val h = 8
    val px = Array.tabulate(w * h)(i => i * 3 % 256)
    val (bytes, _) = encodeGrayJpeg(w, h, px, Array.fill(64)(4))
    // flip SOF0 -> SOF2: the baseline (Ss=0,Se=63) scan header is illegal
    // for progressive (G.1.1.1) — decoder must return None, not garbage...
    val prog = bytes.clone()
    val sofAt = prog.indices.find(i => (prog(i) & 0xff) == 0xff &&
      (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(MediaJob.decodeJpegLuma(prog).isEmpty)
    // ...and decodeStub falls back to header dims + fold feature
    val (d1, d2, d3, _) = MediaJob.decodeStub("image", prog)
    assert((d1, d2, d3) == (w, h, 1))
    // truncated mid-scan: None, no exception
    assert(MediaJob.decodeJpegLuma(bytes.take(bytes.length - 8)).isEmpty)
  }

  test("WAV PCM decode: window RMS from real samples (16-bit and 8-bit)") {
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def wav(bits: Int, data: Array[Byte]): Array[Byte] = {
      val fmtBody = le16(1) ++ le16(1) ++ le32(8000) ++
        le32(8000 * bits / 8) ++ le16(bits / 8) ++ le16(bits)
      "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(16) ++ fmtBody ++
        "data".getBytes ++ le32(data.length) ++ data
    }
    // 160 frames 16-bit mono: first half silence, second half half-scale square
    val d16 = (0 until 160).flatMap { i =>
      val v = if (i < 80) 0 else if (i % 2 == 0) 16384 else -16384
      le16(v & 0xffff)
    }.toArray
    val (rate, frames, _, feat) = MediaJob.decodeStub("audio", wav(16, d16))
    assert(rate == 8000 && frames == 160)
    for (k <- 0 until 8)
      assert(math.abs(feat(k) - (-0.5f)) < 1e-4, s"window $k should be silent")
    for (k <- 8 until 16)
      assert(math.abs(feat(k) - 0.0f) < 1e-3, s"window $k should be half-scale RMS")

    // 8-bit: constant 128 = digital silence
    val d8 = Array.fill[Byte](64)(128.toByte)
    val (r8, f8, _, feat8) = MediaJob.decodeStub("audio", wav(8, d8))
    assert(r8 == 8000 && f8 == 64)
    assert(feat8.forall(v => math.abs(v - (-0.5f)) < 1e-4))
  }

  // ------------------------------------------ independent WAV codec side
  private def wavLe32(v: Int) =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  private def wavLe16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)

  /** WAV container with an arbitrary format code; `extensible` wraps the
    * code in WAVE_FORMAT_EXTENSIBLE (0xFFFE + SubFormat GUID). */
  private def wavFile(fmtCode: Int, chans: Int, rate: Int, bits: Int,
                      blockAlign: Int, data: Array[Byte],
                      extensible: Boolean = false): Array[Byte] = {
    val fmtBody =
      if (!extensible)
        wavLe16(fmtCode) ++ wavLe16(chans) ++ wavLe32(rate) ++
          wavLe32(rate * blockAlign) ++ wavLe16(blockAlign) ++ wavLe16(bits)
      else // 16 base + cbSize 22: validBits, channelMask, SubFormat GUID
        wavLe16(0xfffe) ++ wavLe16(chans) ++ wavLe32(rate) ++
          wavLe32(rate * blockAlign) ++ wavLe16(blockAlign) ++ wavLe16(bits) ++
          wavLe16(22) ++ wavLe16(bits) ++ wavLe32(0) ++
          wavLe16(fmtCode) ++ wavLe16(0) ++ Array.fill[Byte](12)(0)
    "RIFF".getBytes ++ wavLe32(4 + 8 + fmtBody.length + 8 + data.length) ++
      "WAVE".getBytes ++ "fmt ".getBytes ++ wavLe32(fmtBody.length) ++ fmtBody ++
      "data".getBytes ++ wavLe32(data.length) ++ data
  }

  /** Independent G.711 COMPRESSORS (linear → code), from the segmented
    * companding definition — the kernel holds only the decode side, so a
    * round-trip within quantization tolerance pins both. */
  private def linear2ulaw(s0: Int): Int = {
    var s = s0
    val sign = if (s < 0) { s = -s; 0x80 } else 0
    if (s > 32635) s = 32635
    s += 0x84
    var exp = 7; var mask = 0x4000
    while (exp > 0 && (s & mask) == 0) { exp -= 1; mask >>= 1 }
    ~(sign | (exp << 4) | ((s >> (exp + 3)) & 0x0f)) & 0xff
  }
  private def linear2alaw(s0: Int): Int = {
    var s = s0
    val sign = if (s >= 0) 0x80 else { s = -s; 0 }
    if (s > 32635) s = 32635
    var exp = 7; var mask = 0x4000
    while (exp > 0 && (s & mask) == 0) { exp -= 1; mask >>= 1 }
    val mant = if (exp == 0) (s >> 4) & 0x0f else (s >> (exp + 3)) & 0x0f
    ((sign | (exp << 4) | mant) ^ 0x55) & 0xff
  }

  test("WAV wide PCM and float: 24/32-bit and IEEE float32 window RMS are exact") {
    // half-scale square at each width → RMS 0.5 exactly → feature 0.0
    val n = 160
    def sq(i: Int): Int = if (i % 2 == 0) 1 else -1
    val d24 = (0 until n).flatMap { i =>
      val v = sq(i) * 4194304 // 2^22 = half of 2^23 full scale
      Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte)
    }.toArray
    val (r24, f24, feat24) = MediaJob.decodeWavRms(wavFile(1, 1, 8000, 24, 3, d24)).get
    assert(r24 == 8000 && f24 == n)
    assert(feat24.forall(v => math.abs(v) < 1e-6), s"24-bit RMS: ${feat24.toSeq}")
    val d32 = (0 until n).flatMap(i => wavLe32(sq(i) * 1073741824)).toArray // 2^30
    val (_, _, feat32) = MediaJob.decodeWavRms(wavFile(1, 1, 8000, 32, 4, d32)).get
    assert(feat32.forall(v => math.abs(v) < 1e-6), s"32-bit RMS: ${feat32.toSeq}")
    val dF = (0 until n).flatMap(i =>
      wavLe32(java.lang.Float.floatToIntBits(sq(i) * 0.5f))).toArray
    val (_, _, featF) = MediaJob.decodeWavRms(wavFile(3, 1, 8000, 32, 4, dF)).get
    assert(featF.forall(v => math.abs(v) < 1e-6), s"float RMS: ${featF.toSeq}")
    // extensible wrapper around 16-bit PCM decodes identically to plain
    val d16 = (0 until n).flatMap(i => wavLe16((sq(i) * 16384) & 0xffff)).toArray
    val plain = MediaJob.decodeWavRms(wavFile(1, 1, 8000, 16, 2, d16)).get
    val ext = MediaJob.decodeWavRms(wavFile(1, 1, 8000, 16, 2, d16, extensible = true)).get
    assert(ext._1 == plain._1 && ext._2 == plain._2 &&
      ext._3.sameElements(plain._3),
      "WAVE_FORMAT_EXTENSIBLE must decode as the wrapped code")
  }

  test("WAV G.711 µ-law and A-law: companded round-trip holds window RMS within tolerance") {
    // a half-scale square: companding error at 16384 is < 3 %
    val n = 160
    val lin = Array.tabulate(n)(i => if (i % 2 == 0) 16384 else -16384)
    for ((code, enc) <- Seq(7 -> linear2ulaw _, 6 -> linear2alaw _)) {
      val data = lin.map(v => enc(v).toByte)
      val got = MediaJob.decodeWavRms(wavFile(code, 1, 8000, 8, 1, data))
      assert(got.isDefined, s"fmt $code rejected")
      val (rate, frames, feat) = got.get
      assert(rate == 8000 && frames == n)
      // true RMS 0.5 → feature 0.0; allow the companding quantization
      assert(feat.forall(v => math.abs(v) < 0.03),
        s"fmt $code windows: ${feat.toSeq}")
      // silence stays exactly representable in both laws
      val silent = Array.fill(n)(enc(0).toByte)
      val (_, _, fs) = MediaJob.decodeWavRms(wavFile(code, 1, 8000, 8, 1, silent)).get
      assert(fs.forall(v => math.abs(v - (-0.5f)) < 2e-3), s"fmt $code silence: ${fs.toSeq}")
    }
  }

  test("WAV IMA ADPCM: block decode matches the independent encoder's own reconstruction") {
    // independent IMA COMPRESSOR (public spec): picks each nibble by
    // successive step subtraction and tracks its own reconstruction —
    // the kernel must land on exactly the same predictor trajectory
    val stepT = Array(
      7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
      41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
      190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 600, 660,
      726, 794, 873, 961, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
      2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
      6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
      16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
    val idxAdj = Array(-1, -1, -1, -1, 2, 4, 6, 8)
    val spb = 33 // 4-byte header + 16 data bytes per mono block
    val blockAlign = 4 + (spb - 1) / 2
    val nBlocks = 4
    val src = Array.tabulate(nBlocks * spb)(i =>
      (math.sin(i * 0.12) * 12000).toInt) // smooth: ADPCM tracks closely
    val data = new scala.collection.mutable.ArrayBuffer[Byte]()
    val recon = new scala.collection.mutable.ArrayBuffer[Int]()
    // start near the signal's slope (standard encoder practice — avoids a
    // slow step-ramp in block 1 that is codec physics, not decode error)
    val maxDiff = (1 until src.length).map(k => math.abs(src(k) - src(k - 1))).max
    var idx = math.max(0, stepT.indexWhere(_ >= maxDiff / 2))
    for (blk <- 0 until nBlocks) {
      var pred = src(blk * spb)
      data ++= wavLe16(pred & 0xffff); data += idx.toByte; data += 0
      recon += pred
      val nibs = new scala.collection.mutable.ArrayBuffer[Int]()
      for (k <- 1 until spb) {
        val step = stepT(idx)
        var diff = src(blk * spb + k) - pred
        var nib = 0
        if (diff < 0) { nib = 8; diff = -diff }
        if (diff >= step) { nib |= 4; diff -= step }
        if (diff >= (step >> 1)) { nib |= 2; diff -= step >> 1 }
        if (diff >= (step >> 2)) nib |= 1
        var d = step >> 3
        if ((nib & 1) != 0) d += step >> 2
        if ((nib & 2) != 0) d += step >> 1
        if ((nib & 4) != 0) d += step
        pred = if ((nib & 8) != 0) pred - d else pred + d
        pred = math.max(-32768, math.min(32767, pred))
        idx = math.max(0, math.min(88, idx + idxAdj(nib & 7)))
        nibs += nib; recon += pred
      }
      nibs.grouped(2).foreach(p =>
        data += ((p(0) | (p.lift(1).getOrElse(0) << 4)) & 0xff).toByte)
    }
    val bytes = wavFile(0x11, 1, 8000, 4, blockAlign, data.toArray)
    val got = MediaJob.decodeWavRms(bytes)
    assert(got.isDefined, "IMA ADPCM rejected")
    val (rate, frames, feat) = got.get
    assert(rate == 8000 && frames == nBlocks * spb)
    // expected RMS windows from the ENCODER's reconstruction, same math
    val expect = Array.tabulate(16) { win =>
      val f0 = win * frames / 16; val f1 = (win + 1) * frames / 16
      val vs = (f0 until f1).map(f => (recon(f) / 32768.0f).toDouble)
      if (vs.isEmpty) -0.5f
      else (math.sqrt(vs.map(v => v * v).sum / vs.length) - 0.5).toFloat
    }
    for (k <- 0 until 16)
      assert(math.abs(feat(k) - expect(k)) < 1e-6, s"window $k: ${feat(k)} vs ${expect(k)}")
    // the reconstruction itself must track the source (sanity on the codec)
    val err = recon.zip(src).map { case (a, b0) => math.abs(a - b0) }.max
    assert(err < 2500, s"ADPCM tracking error $err")
    // a still-unsupported codec (MP3-in-WAV, fmt 0x55) → None, never throws
    assert(MediaJob.decodeWavRms(wavFile(0x55, 1, 8000, 4, blockAlign, data.toArray)).isEmpty)
    MediaJob.decodeStub("audio", wavFile(0x55, 1, 8000, 4, blockAlign, data.toArray))
  }

  test("WAV MS-ADPCM: block decode matches the independent encoder's own reconstruction") {
    // independent MS-ADPCM COMPRESSOR (public Microsoft spec): fixed
    // coefficient pair per block, greedy nibble choice, tracking its own
    // reconstruction with the spec's truncating /256 arithmetic — the
    // kernel must land on exactly the same predictor trajectory.
    val coef1 = Array(256, 512, 0, 192, 240, 460, 392)
    val coef2 = Array(0, -256, 0, 64, 0, -208, -232)
    val adapt = Array(230, 230, 230, 230, 307, 409, 512, 614,
                      768, 614, 512, 409, 307, 230, 230, 230)
    def encode(chans: Int, srcByCh: Array[Array[Int]], predIdx: Int,
               spb: Int): (Array[Byte], Array[Array[Int]]) = {
      val nBlocks = srcByCh(0).length / spb
      val data = new scala.collection.mutable.ArrayBuffer[Byte]()
      val recon = Array.fill(chans)(new scala.collection.mutable.ArrayBuffer[Int]())
      for (blk <- 0 until nBlocks) {
        val s1 = new Array[Int](chans); val s2 = new Array[Int](chans)
        val dl = new Array[Int](chans)
        for (c <- 0 until chans) {
          s2(c) = srcByCh(c)(blk * spb)
          s1(c) = srcByCh(c)(blk * spb + 1)
          dl(c) = 64
          recon(c) += s2(c); recon(c) += s1(c)
        }
        for (c <- 0 until chans) data += predIdx.toByte
        for (c <- 0 until chans) data ++= wavLe16(dl(c) & 0xffff)
        for (c <- 0 until chans) data ++= wavLe16(s1(c) & 0xffff)
        for (c <- 0 until chans) data ++= wavLe16(s2(c) & 0xffff)
        val nibs = new scala.collection.mutable.ArrayBuffer[Int]()
        for (k <- 2 until spb; c <- 0 until chans) {
          val pred = (s1(c) * coef1(predIdx) + s2(c) * coef2(predIdx)) / 256
          val want = srcByCh(c)(blk * spb + k)
          var signed = math.round((want - pred).toDouble / dl(c)).toInt
          if (signed > 7) signed = 7
          if (signed < -8) signed = -8
          val nib = signed & 0xf
          var v = pred + dl(c) * signed
          if (v > 32767) v = 32767
          if (v < -32768) v = -32768
          s2(c) = s1(c); s1(c) = v
          dl(c) = dl(c) * adapt(nib) / 256
          if (dl(c) < 16) dl(c) = 16
          recon(c) += v
          nibs += nib
        }
        // two samples per byte, HIGH nibble first
        nibs.grouped(2).foreach(p =>
          data += (((p(0) << 4) | p.lift(1).getOrElse(0)) & 0xff).toByte)
      }
      (data.toArray, recon.map(_.toArray))
    }
    def rmsExpect(chans: Int, recon: Array[Array[Int]]): Array[Float] = {
      val frames = recon(0).length
      Array.tabulate(16) { win =>
        val f0 = win * frames / 16; val f1 = (win + 1) * frames / 16
        val vs = for (f <- f0 until f1; c <- 0 until chans)
          yield (recon(c)(f) / 32768.0f).toDouble
        if (vs.isEmpty) -0.5f
        else (math.sqrt(vs.map(v => v * v).sum / vs.length) - 0.5).toFloat
      }
    }

    // mono, predictor 0, smooth signal
    val spb = 32
    val blockAlignM = 7 + (spb - 2) / 2 // 7*chans header + nibble bytes
    val srcM = Array.tabulate(4 * spb)(i => (math.sin(i * 0.15) * 11000).toInt)
    val (dataM, reconM) = encode(1, Array(srcM), 0, spb)
    val bytesM = wavFile(2, 1, 8000, 4, blockAlignM, dataM)
    val gotM = MediaJob.decodeWavRms(bytesM)
    assert(gotM.isDefined, "MS-ADPCM mono rejected")
    val (rateM, framesM, featM) = gotM.get
    assert(rateM == 8000 && framesM == 4 * spb)
    val expM = rmsExpect(1, reconM)
    for (k <- 0 until 16)
      assert(math.abs(featM(k) - expM(k)) < 1e-6, s"mono window $k: ${featM(k)} vs ${expM(k)}")
    // the reconstruction itself must track the source (codec sanity)
    val errM = reconM(0).zip(srcM).map { case (a, b0) => math.abs(a - b0) }.max
    assert(errM < 3000, s"MS-ADPCM tracking error $errM")

    // stereo, predictor 1 (coef2 negative branch), distinct per-channel signals
    val srcL = Array.tabulate(3 * spb)(i => (math.sin(i * 0.11) * 9000).toInt)
    val srcR = Array.tabulate(3 * spb)(i => (math.cos(i * 0.23) * 6000).toInt)
    val blockAlignS = 14 + (spb - 2) // 7*2 header + 2 nibbles/sample-pair
    val (dataS, reconS) = encode(2, Array(srcL, srcR), 1, spb)
    val gotS = MediaJob.decodeWavRms(wavFile(2, 2, 16000, 4, blockAlignS, dataS))
    assert(gotS.isDefined, "MS-ADPCM stereo rejected")
    val (rateS, framesS, featS) = gotS.get
    assert(rateS == 16000 && framesS == 3 * spb)
    val expS = rmsExpect(2, reconS)
    for (k <- 0 until 16)
      assert(math.abs(featS(k) - expS(k)) < 1e-6, s"stereo window $k: ${featS(k)} vs ${expS(k)}")

    // truncated data / crafted blockAlign degrade to None, never throw
    assert(MediaJob.decodeWavRms(wavFile(2, 1, 8000, 4, 6, dataM)).isEmpty) // < header
    MediaJob.decodeStub("audio", bytesM.take(bytesM.length / 2))
  }

  test("media feature extraction: schema, determinism, doc join") {
    import spark.implicits._
    val docs = CorpusGen.generate(spark, 300, 4).toDF()
    val media = MediaJob.synthesizeFromDocs(spark, docs)
    val nMedia = media.count()
    assert(nMedia > 0, "corpus should interleave media spans")
    assert(media.columns.toSet == Set("media_ref", "doc_id", "media_type", "bytes", "meta"))

    val feats = MediaJob.extractFeatures(spark, media)
    val rows = feats.collect()
    assert(rows.length == nMedia)
    assert(rows.forall(_.feature.length == 16))
    assert(rows.forall(r => r.byte_len > 0))
    // determinism: same input → same features
    val again = MediaJob.extractFeatures(spark, media).collect()
      .map(f => f.media_ref -> f.feature.toSeq).toMap
    assert(rows.forall(f => again(f.media_ref) == f.feature.toSeq))
    // media_type dispatch reaches all three stubs
    assert(rows.map(_.media_type).toSet.subsetOf(Set("image", "audio", "video")))

    val joined = MediaJob.joinFeaturesToDocs(docs, feats)
    assert(joined.count() == nMedia)
    assert(joined.filter(col("feature").isNull).count() == 0)
  }

  test("media resize: aspect-preserving geometry, never upscales, 4-dim thumb") {
    import spark.implicits._
    val docs = graft.pipeline.CorpusGen.generate(spark, 300, 4).toDF()
    val media = graft.pipeline.MediaJob.synthesizeFromDocs(spark, docs)
    val features = graft.pipeline.MediaJob.extractFeatures(spark, media)
    val resized = graft.pipeline.MediaJob.resizeImages(spark, features, 256, 256).collect()
    assert(resized.nonEmpty)
    resized.foreach { r =>
      assert(r.out_w <= 256 && r.out_h <= 256)
      assert(r.out_w <= r.src_w && r.out_h <= r.src_h, "never upscale")
      // aspect preserved within rounding
      val srcAspect = r.src_w.toDouble / r.src_h
      val outAspect = r.out_w.toDouble / r.out_h
      assert(math.abs(srcAspect - outAspect) / srcAspect < 0.05,
        s"aspect drift: $srcAspect vs $outAspect")
      assert(r.thumb.length == 4)
    }
    // exact-fit geometry checks on the pure function
    assert(graft.pipeline.MediaJob.fitWithin(1024, 512, 256, 256) == (256, 128))
    assert(graft.pipeline.MediaJob.fitWithin(100, 100, 256, 256) == (100, 100))
    assert(graft.pipeline.MediaJob.fitWithin(512, 1024, 256, 256) == (128, 256))
  }

  test("video frame sampling: every-Nth fan-out bounded by the frame count") {
    import spark.implicits._
    val docs = graft.pipeline.CorpusGen.generate(spark, 300, 4).toDF()
    val media = graft.pipeline.MediaJob.synthesizeFromDocs(spark, docs)
    val features = graft.pipeline.MediaJob.extractFeatures(spark, media)
    val videos = features.filter(_.media_type == "video").collect()
    assume(videos.nonEmpty)
    val frames = graft.pipeline.MediaJob.sampleFrames(spark, features, everyNth = 6)
      .collect().groupBy(_.media_ref)
    videos.foreach { v =>
      val expect = (0 until v.dim3 by 6).toSeq
      val got = frames(v.media_ref).map(_.frame_idx).toSeq.sorted
      assert(got == expect, s"${v.media_ref}: $got vs $expect")
      frames(v.media_ref).foreach(f => assert(f.frame_feature.length == 16))
    }
  }

  /** Independent test-side AVI writer (RIFF/AVI spec): hdrl LIST with the
    * 56-byte avih main header + a strl LIST, then a movi LIST of '00dc'
    * frame chunks (word-aligned). `declared` overrides dwTotalFrames to
    * exercise header/chunk-count disagreement. */
  private def encodeAvi(w: Int, h: Int, frames: Seq[Array[Byte]],
                        declared: Int = -1): Array[Byte] = {
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad: Array[Byte] =
        if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte]
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++ pad
    }
    def list(typ: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", typ.getBytes("US-ASCII") ++ body)
    val avih = chunk("avih",
      le32(33366) ++ le32(0) ++ le32(0) ++ le32(0) ++
        le32(if (declared >= 0) declared else frames.length) ++
        le32(0) ++ le32(1) ++ le32(0) ++
        le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
    val strh = chunk("strh", "vids".getBytes("US-ASCII") ++
      "MJPG".getBytes("US-ASCII") ++ Array.fill[Byte](48)(0))
    val strf = chunk("strf", Array.fill[Byte](40)(0))
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  test("AVI MJPEG decode: per-frame features match per-frame JPEG decode") {
    val w = 16; val h = 16
    val q = Array.tabulate(64)(k => 1 + k / 8)
    val frames = (0 until 3).map { n =>
      encodeGrayJpeg(w, h, Array.tabulate(w * h)(
        i => ((i % w) * (5 + n) + (i / w) * (11 + n)) % 256), q)._1
    }
    val expected = frames.map { f =>
      val Some((fw, fh, _, luma)) = MediaJob.decodeJpegLuma(f)
      MediaJob.gridPool16(fw, fh, luma)
    }
    val avi = encodeAvi(w, h, frames)
    val got = MediaJob.decodeAviMjpeg(avi)
    assert(got.isDefined, "decoder rejected a valid MJPEG AVI")
    val (dw, dh, n, feats) = got.get
    assert((dw, dh, n) == (w, h, 3))
    assert(feats.length == 3)
    for (i <- 0 until 3)
      assert(feats(i).sameElements(expected(i)),
        s"frame $i feature differs from its direct JPEG decode")
    // dispatch: video tier = real dims + MEAN of the per-frame grids
    val (d1, d2, d3, feat) = MediaJob.decodeStub("video", avi)
    assert((d1, d2, d3) == (w, h, 3))
    val mean = Array.tabulate(16)(k => expected.map(_(k)).sum / 3)
    for (k <- 0 until 16)
      assert(math.abs(feat(k) - mean(k)) < 1e-6f)
  }

  test("AVI with a non-JPEG codec falls back to real header dims + fold feature") {
    val junkFrame = Array.tabulate[Byte](200)(i => (i * 37).toByte) // not a JPEG
    val avi = encodeAvi(320, 240, Seq(junkFrame, junkFrame), declared = 48)
    // frame decode yields nothing → tier-5: header dims (incl. the DECLARED
    // frame count — larger than the chunk count here) + fold feature
    assert(MediaJob.decodeAviMjpeg(avi).exists(_._4.isEmpty))
    assert(MediaJob.probeHeader("video", avi).contains((320, 240, 48)))
    val (d1, d2, d3, feat) = MediaJob.decodeStub("video", avi)
    assert((d1, d2, d3) == (320, 240, 48))
    assert(feat.length == 16)
  }

  test("crafted AVI chunk lengths cannot wrap the walk or force unbounded decode") {
    val w = 8; val h = 8
    val frame = encodeGrayJpeg(w, h,
      Array.tabulate(w * h)(i => i * 3 % 256), Array.fill(64)(4))._1
    val avi = encodeAvi(w, h, Seq(frame))
    // corrupt the movi frame chunk's length to near Int.MaxValue
    val moviAt = avi.indices.find(i => avi(i) == '0' && avi(i + 1) == '0' &&
      avi(i + 2) == 'd' && avi(i + 3) == 'c').get
    val evil = avi.clone()
    evil(moviAt + 4) = 0xff.toByte; evil(moviAt + 5) = 0xff.toByte
    evil(moviAt + 6) = 0xff.toByte; evil(moviAt + 7) = 0x7f.toByte
    val r = MediaJob.decodeAviMjpeg(evil) // must not throw
    assert(r.forall(_._1 == w))
    // truncated mid-movi: still no exception, header stays parseable
    assert(MediaJob.decodeAviMjpeg(avi.take(avi.length - 10)).isDefined)
    // frame-decode budget: 100 declared chunks, maxDecode caps pixel work
    val many = encodeAvi(w, h, Seq.fill(100)(frame))
    val capped = MediaJob.decodeAviMjpeg(many, maxDecode = 5)
    assert(capped.exists(x => x._3 == 100 && x._4.length == 5))
  }

  test("probeAvi: the header-only walk matches the MJPEG decode's geometry and count") {
    val w = 8; val h = 8
    val frame = encodeGrayJpeg(w, h,
      Array.tabulate(w * h)(i => i * 3 % 256), Array.fill(64)(4))._1
    val junk = Array.tabulate[Byte](200)(i => (i * 37).toByte)
    def dims(r: Option[(Int, Int, Int, Array[Array[Float]])]) =
      r.map { case (a, b, n, _) => (a, b, n) }
    for (avi <- Seq(encodeAvi(w, h, Seq(frame, frame)),
                    encodeAvi(320, 240, Seq(junk, junk), declared = 48),
                    encodeAvi(w, h, Seq.fill(100)(frame)),
                    encodeAvi(16, 16, Seq.empty, declared = Int.MaxValue))) {
      assert(MediaJob.probeAvi(avi).isDefined)
      assert(MediaJob.probeAvi(avi) == dims(MediaJob.decodeAviMjpeg(avi)))
      assert(MediaJob.probeHeader("video", avi) == MediaJob.probeAvi(avi))
      for (cut <- Seq(12, 30, avi.length / 2, avi.length - 3))
        assert(MediaJob.probeAvi(avi.take(cut)) ==
          dims(MediaJob.decodeAviMjpeg(avi.take(cut))), s"cut at $cut")
    }
    // a chunk length near Int.MaxValue cannot wrap the cursor
    val avi = encodeAvi(w, h, Seq(frame))
    val at = avi.indices.find(i => avi(i) == '0' && avi(i + 1) == '0' &&
      avi(i + 2) == 'd' && avi(i + 3) == 'c').get
    val evil = avi.clone()
    evil(at + 4) = 0xff.toByte; evil(at + 5) = 0xff.toByte
    evil(at + 6) = 0xff.toByte; evil(at + 7) = 0x7f.toByte
    assert(MediaJob.probeAvi(evil).contains((w, h, 1)))
    // LISTs nest at most four deep: a frame chunk one level deeper is not seen
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def list(body: Array[Byte]) =
      "LIST".getBytes("US-ASCII") ++ le32(body.length + 4) ++ "movi".getBytes("US-ASCII") ++ body
    val chunk = "00dc".getBytes("US-ASCII") ++ le32(2) ++ Array[Byte](0, 0)
    def nested(levels: Int) = (0 until levels).foldLeft(chunk)((b, _) => list(b))
    val base = encodeAvi(w, h, Seq.empty, declared = 0)
    assert(MediaJob.probeAvi(base ++ nested(4)).contains((w, h, 1)))
    assert(MediaJob.probeAvi(base ++ nested(5)).contains((w, h, 0)))
  }

  // Independent ISO-BMFF (MP4) assembler for the probeMp4 tests:
  // big-endian [size:u32][4cc][body] boxes built bottom-up — a separate
  // derivation of ISO/IEC 14496-12, so the kernel's walk is checked
  // against it rather than against itself.
  private def isoBox(typ: String, body: Array[Byte]): Array[Byte] =
    be32(body.length + 8) ++ typ.getBytes("US-ASCII") ++ body
  private def mp4Tkhd(w: Int, h: Int, version: Int): Array[Byte] = {
    val timeFields = if (version == 1) 32 else 20 // creation/modification/id/reserved/duration
    isoBox("tkhd", Array[Byte](version.toByte, 0, 0, 0) ++
      Array.fill[Byte](timeFields)(0) ++
      Array.fill[Byte](8)(0) ++  // reserved
      Array.fill[Byte](8)(0) ++  // layer / alternate_group / volume / reserved
      Array.fill[Byte](36)(0) ++ // unity matrix (zeros fine: probe ignores it)
      be32(w << 16) ++ be32(h << 16)) // 16.16 fixed presentation size
  }
  private def mp4Trak(w: Int, h: Int, frames: Int, handler: String,
                      tkhdVersion: Int = 0): Array[Byte] = {
    val hdlr = isoBox("hdlr",
      be32(0) ++ be32(0) ++ handler.getBytes("US-ASCII") ++ Array.fill[Byte](12)(0))
    val stsz = isoBox("stsz", be32(0) ++ be32(0) ++ be32(frames))
    val mdia = isoBox("mdia", hdlr ++ isoBox("minf", isoBox("stbl", stsz)))
    isoBox("trak", mp4Tkhd(w, h, tkhdVersion) ++ mdia)
  }
  private def encodeMp4(traks: Array[Byte]*): Array[Byte] =
    isoBox("ftyp", "isom".getBytes("US-ASCII") ++ be32(512) ++
      "isomiso2".getBytes("US-ASCII")) ++
      isoBox("moov", traks.toArray.flatten) ++
      isoBox("mdat", Array.fill[Byte](48)(0x5a)) // opaque codec payload

  test("probeMp4 walks moov → tkhd geometry + stsz frame count (v0 and v1 tkhd)") {
    val mp4 = encodeMp4(mp4Trak(1920, 1080, 240, "vide"))
    assert(MediaJob.probeMp4(mp4).contains((1920, 1080, 240)))
    assert(MediaJob.probeHeader("video", mp4).contains((1920, 1080, 240)))
    // tkhd version 1 shifts the geometry by the widened 64-bit time fields
    val v1 = encodeMp4(mp4Trak(640, 360, 75, "vide", tkhdVersion = 1))
    assert(MediaJob.probeMp4(v1).contains((640, 360, 75)))
    // tier-5 dispatch: real probed dims + the deterministic fold feature
    val (d1, d2, d3, feat) = MediaJob.decodeStub("video", mp4)
    assert((d1, d2, d3) == (1920, 1080, 240) && feat.length == 16)
  }

  test("probeMp4 prefers the vide-handler trak over an earlier non-video trak") {
    // a timed-text trak that happens to carry geometry leads the moov;
    // the video trak must still win the selection
    val mp4 = encodeMp4(
      mp4Trak(100, 20, 9999, "text"),
      mp4Trak(1280, 720, 120, "vide"))
    assert(MediaJob.probeMp4(mp4).contains((1280, 720, 120)))
    // audio traks carry zero geometry → skipped even when they lead
    val withAudio = encodeMp4(
      mp4Trak(0, 0, 44100, "soun"),
      mp4Trak(320, 240, 30, "vide"))
    assert(MediaJob.probeMp4(withAudio).contains((320, 240, 30)))
  }

  test("crafted MP4 box sizes cannot wrap the walk; malformed input degrades to the fold tier") {
    val mp4 = encodeMp4(mp4Trak(64, 64, 10, "vide"))
    // corrupt moov's size field to near 2^31: Long arithmetic must reject
    // it (end > until), not wrap the cursor negative
    val moovAt = mp4.indices.find(i => mp4(i) == 'm' && mp4(i + 1) == 'o' &&
      mp4(i + 2) == 'o' && mp4(i + 3) == 'v').get - 4
    val evil = mp4.clone()
    evil(moovAt) = 0x7f.toByte; evil(moovAt + 1) = 0xff.toByte
    evil(moovAt + 2) = 0xff.toByte; evil(moovAt + 3) = 0xff.toByte
    assert(MediaJob.probeMp4(evil).isEmpty)
    val (_, _, _, f1) = MediaJob.decodeStub("video", evil) // must not throw
    assert(f1.length == 16 && f1.forall(v => !v.isNaN && !v.isInfinite))
    // size == 1 → 64-bit largesize path: a largesize-framed moov parses
    val moovBody = mp4.slice(moovAt + 8, mp4.length - 56) // moov body (mdat is 56 bytes)
    val large = mp4.take(moovAt) ++
      be32(1) ++ "moov".getBytes("US-ASCII") ++ be32(0) ++
      be32(moovBody.length + 16) ++ moovBody
    assert(MediaJob.probeMp4(large).contains((64, 64, 10)))
    // size == 0 → box runs to end-of-scope (last top-level box)
    val openEnded = mp4.take(mp4.length - 56).clone() // drop mdat: moov is last
    openEnded(moovAt) = 0; openEnded(moovAt + 1) = 0
    openEnded(moovAt + 2) = 0; openEnded(moovAt + 3) = 0
    assert(MediaJob.probeMp4(openEnded).contains((64, 64, 10)))
    // truncation anywhere never throws
    for (cut <- Seq(3, 9, moovAt + 5, mp4.length - 7))
      MediaJob.decodeStub("video", mp4.take(cut))
  }

  // Independent EBML/Matroska assembler for the probeMkv tests — a
  // separate bottom-up derivation of RFC 8794 + the public Matroska
  // element registry, so the kernel's walk is checked against it rather
  // than against itself.
  private def ebmlVintBytes(v: Long): Array[Byte] = {
    var n = 1
    while (v >= (1L << (7 * n)) - 1) n += 1 // all-ones is reserved (unknown size)
    val out = new Array[Byte](n)
    var x = v | (1L << (7 * n))
    var j = n - 1
    while (j >= 0) { out(j) = (x & 0xff).toByte; x >>>= 8; j -= 1 }
    out
  }
  private def beBytes(v: Long): Array[Byte] = {
    var n = 1
    while ((v >>> (8 * n)) != 0) n += 1
    val out = new Array[Byte](n)
    var x = v
    var j = n - 1
    while (j >= 0) { out(j) = (x & 0xff).toByte; x >>>= 8; j -= 1 }
    out
  }
  /** One EBML element: raw marker-included id bytes ++ size vint ++ body. */
  private def ebmlEl(id: Long, body: Array[Byte]): Array[Byte] =
    beBytes(id) ++ ebmlVintBytes(body.length.toLong) ++ body
  private def mkvTrackEntry(num: Long, typ: Long, w: Int, h: Int): Array[Byte] =
    ebmlEl(0xAEL,
      ebmlEl(0xD7L, beBytes(num)) ++ ebmlEl(0x83L, beBytes(typ)) ++
        (if (w > 0) ebmlEl(0xE0L,
          ebmlEl(0xB0L, beBytes(w)) ++ ebmlEl(0xBAL, beBytes(h)))
         else Array.empty[Byte]))
  private def mkvSimpleBlock(track: Long): Array[Byte] =
    ebmlEl(0xA3L, ebmlVintBytes(track) ++
      Array[Byte](0, 0, 0) ++ Array.fill[Byte](6)(0x42)) // ts+flags+payload
  private def encodeMkv(tracks: Array[Byte], clusters: Array[Byte]*): Array[Byte] =
    ebmlEl(0x1A45DFA3L, ebmlEl(0x4282L, "webm".getBytes("US-ASCII"))) ++
      ebmlEl(0x18538067L,
        ebmlEl(0x1654AE6BL, tracks) ++ clusters.toArray.flatten)

  test("probeMkv walks Segment → Tracks geometry + per-cluster block frame count") {
    val mkv = encodeMkv(
      mkvTrackEntry(1, 1, 1920, 1080),
      ebmlEl(0x1F43B675L, mkvSimpleBlock(1) ++ mkvSimpleBlock(1)),
      ebmlEl(0x1F43B675L, mkvSimpleBlock(1)))
    assert(MediaJob.probeMkv(mkv).contains((1920, 1080, 3)))
    assert(MediaJob.probeHeader("video", mkv).contains((1920, 1080, 3)))
    // tier-5 dispatch: real probed dims + the deterministic fold feature
    val (d1, d2, d3, feat) = MediaJob.decodeStub("video", mkv)
    assert((d1, d2, d3) == (1920, 1080, 3) && feat.length == 16)
    // BlockGroup → Block frames count the same as SimpleBlocks
    val grouped = encodeMkv(
      mkvTrackEntry(1, 1, 640, 360),
      ebmlEl(0x1F43B675L,
        ebmlEl(0xA0L, ebmlEl(0xA1L, ebmlVintBytes(1L) ++
          Array[Byte](0, 0, 0) ++ Array.fill[Byte](4)(0x17))) ++
          mkvSimpleBlock(1)))
    assert(MediaJob.probeMkv(grouped).contains((640, 360, 2)))
  }

  test("probeMkv keys frames on the VIDEO track and skips non-video tracks") {
    // audio track leads (type 2, no geometry); its blocks must not count
    val mkv = encodeMkv(
      mkvTrackEntry(2, 2, 0, 0) ++ mkvTrackEntry(1, 1, 1280, 720),
      ebmlEl(0x1F43B675L,
        mkvSimpleBlock(2) ++ mkvSimpleBlock(1) ++ mkvSimpleBlock(2)))
    assert(MediaJob.probeMkv(mkv).contains((1280, 720, 1)))
    // no video track at all → None (falls to the fold tier, not a crash)
    val audioOnly = encodeMkv(
      mkvTrackEntry(2, 2, 0, 0),
      ebmlEl(0x1F43B675L, mkvSimpleBlock(2)))
    assert(MediaJob.probeMkv(audioOnly).isEmpty)
    val (_, _, _, f) = MediaJob.decodeStub("video", audioOnly)
    assert(f.length == 16 && f.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("crafted EBML sizes cannot wrap the walk; unknown-size Segment and truncation degrade safely") {
    val mkv = encodeMkv(
      mkvTrackEntry(1, 1, 64, 48),
      ebmlEl(0x1F43B675L, mkvSimpleBlock(1)))
    // unknown-size Segment (size vint = all-ones): body runs to EOF —
    // the streamed-file form. Rebuild with 0xFF as the Segment size.
    val segIdAt = mkv.indices.find(i => (mkv(i) & 0xff) == 0x18 &&
      (mkv(i + 1) & 0xff) == 0x53 && (mkv(i + 2) & 0xff) == 0x80 &&
      (mkv(i + 3) & 0xff) == 0x67).get
    val segSizeW = {
      val first = mkv(segIdAt + 4) & 0xff
      Integer.numberOfLeadingZeros(first) - 23
    }
    val streamed = mkv.take(segIdAt + 4) ++ Array(0xff.toByte) ++
      mkv.drop(segIdAt + 4 + segSizeW)
    assert(MediaJob.probeMkv(streamed).contains((64, 48, 1)))
    // corrupt the Segment size to a huge value: Long arithmetic must
    // reject it (end > until), never wrap the cursor
    val evil = mkv.clone()
    evil(segIdAt + 4) = 0x41.toByte // width-2 vint claiming ~0x1ff bytes
    evil(segIdAt + 5) = 0xff.toByte
    assert(MediaJob.probeMkv(evil).isEmpty)
    // truncation anywhere never throws, and decodeStub stays total
    for (cut <- Seq(2, 5, segIdAt + 6, mkv.length - 3))
      MediaJob.decodeStub("video", mkv.take(cut))
  }

  test("resizeImagesDecoded: bilinear over real pixels — exact 2x box average, fallback for junk") {
    import spark.implicits._
    // 16x16 gray checkerboard (0/255): a 2x downscale with center mapping
    // blends exactly the 4 covered texels -> every output pixel is 127.5
    val w = 16; val h = 16
    val raw = new scala.collection.mutable.ArrayBuffer[Byte]()
    for (y <- 0 until h) {
      raw += 0 // filter None
      for (x <- 0 until w) raw += (if ((x + y) % 2 == 0) 0 else 255).toByte
    }
    val png = encodePng(w, h, 0, raw.toArray)
    val direct = MediaJob.bilinearResize(w, h,
      MediaJob.decodePngLuma(png).get._4, 8, 8)
    assert(direct.forall(v => math.abs(v - 127.5f) < 1e-3f),
      "2x downscale of a checkerboard must average to 127.5 everywhere")
    // split image: left half black, right half white -> thumb quadrants
    val raw2 = new scala.collection.mutable.ArrayBuffer[Byte]()
    for (y <- 0 until h) {
      raw2 += 0
      for (x <- 0 until w) raw2 += (if (x < w / 2) 0 else 255).toByte
    }
    val png2 = encodePng(w, h, 0, raw2.toArray)
    val junk = Array.tabulate[Byte](48)(i => (i * 29 + 3).toByte)
    val media = Seq(
      ("m/p1", "d1", "image", png),
      ("m/p2", "d2", "image", png2),
      ("m/j", "d3", "image", junk),
      ("m/skip", "d4", "audio", junk) // non-image rows are filtered out
    ).toDF("media_ref", "doc_id", "media_type", "bytes")
    val out = MediaJob.resizeImagesDecoded(spark, media, maxW = 8, maxH = 8)
      .collect().map(r => r.media_ref -> r).toMap
    assert(out.keySet == Set("m/p1", "m/p2", "m/j"))
    val p1 = out("m/p1")
    assert((p1.src_w, p1.src_h, p1.out_w, p1.out_h) == (16, 16, 8, 8))
    p1.thumb.foreach(v => assert(math.abs(v - (127.5f / 255.0f - 0.5f)) < 1e-3f))
    val p2 = out("m/p2")
    assert(p2.thumb(0) < -0.4f && p2.thumb(1) > 0.4f &&
      p2.thumb(2) < -0.4f && p2.thumb(3) > 0.4f,
      s"split image must pool dark/bright/dark/bright, got ${p2.thumb.toSeq}")
    // junk bytes: fold-feature fallback with decodeStub's dims
    val (d1, d2, _, feat) = MediaJob.decodeStub("image", junk)
    val j = out("m/j")
    assert((j.src_w, j.src_h) == (d1, d2))
    assert(j.thumb.sameElements(MediaJob.resizeStub(feat)))
  }

  test("sampleFramesDecoded: real per-frame features for MJPEG AVI, rotation fallback otherwise") {
    import spark.implicits._
    val w = 16; val h = 16
    val q = Array.tabulate(64)(k => 1 + k / 8)
    val frames = (0 until 5).map { n =>
      encodeGrayJpeg(w, h, Array.tabulate(w * h)(
        i => ((i % w) * (3 + n) + (i / w) * (7 + n)) % 256), q)._1
    }
    val expected = frames.map { f =>
      val Some((fw, fh, _, luma)) = MediaJob.decodeJpegLuma(f)
      MediaJob.gridPool16(fw, fh, luma)
    }
    val avi = encodeAvi(w, h, frames)
    val junk = Array.tabulate[Byte](64)(i => (i * 13 + 1).toByte)
    // an animated GIF (typed "image") and a still GIF: the animation
    // samples real composited per-frame grids, the still emits nothing
    val gifCt = Array.tabulate[Byte](256 * 3)(i => (i / 3).toByte)
    val gifFrames = (0 until 4).map(n =>
      GifFrame(0, 0, 8, 8, Array.tabulate(64)(k => (k * (n + 2)) % 256)))
    val animGif = encodeGif(8, 8, gifCt, 0, gifFrames)
    val stillGif = encodeGif(8, 8, gifCt, 0, gifFrames.take(1))
    val rows = Seq(
      ("m/avi1", "d1", "video", avi),
      ("m/junk1", "d2", "video", junk),
      ("m/gif1", "d3", "image", animGif),
      ("m/gif2", "d4", "image", stillGif))
    val media = rows.toDF("media_ref", "doc_id", "media_type", "bytes")
    val out = MediaJob.sampleFramesDecoded(spark, media, everyNth = 2)
      .collect().groupBy(_.media_ref)
    // MJPEG AVI: frames 0,2,4 with their OWN decoded features
    val aviFrames = out("m/avi1").sortBy(_.frame_idx)
    assert(aviFrames.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    aviFrames.foreach(f =>
      assert(f.frame_feature.sameElements(expected(f.frame_idx)),
        s"frame ${f.frame_idx} must carry its own decoded grid"))
    // animated GIF: sampled frames carry the decoded per-frame grids
    val gifOut = out("m/gif1").sortBy(_.frame_idx)
    assert(gifOut.map(_.frame_idx).toSeq == Seq(0, 2))
    val Some((_, _, _, gifGrids, _)) = MediaJob.decodeGif(animGif)
    gifOut.foreach(f =>
      assert(f.frame_feature.sameElements(gifGrids(f.frame_idx))))
    assert(!out.contains("m/gif2"), "a still image emits no frame rows")
    // undecodable video: the deterministic rotation fallback over decodeStub
    val (_, _, d3, feat) = MediaJob.decodeStub("video", junk)
    val junkFrames = out("m/junk1").sortBy(_.frame_idx)
    assert(junkFrames.map(_.frame_idx).toSeq == (0 until d3 by 2).toSeq)
    junkFrames.foreach { f =>
      val rot = Array.tabulate(feat.length)(k => feat((k + f.frame_idx) % feat.length))
      assert(f.frame_feature.sameElements(rot))
    }
  }

  // ---------------------------------------------------------------------
  // Independent GIF encoder: its own LZW COMPRESSOR (hash-chained, clear-
  // on-full, standard non-early code-width bump), logical screen + GCE +
  // image descriptor assembly, and encoder-side interlace row reordering —
  // so the kernel's decoder is pinned against a separate derivation of the
  // GIF89a spec, not against itself.
  private def gifLzwCompress(indices: Array[Int], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var cur = 0L; var nbits = 0
    var codeSize = minCode + 1
    def emit(code: Int): Unit = {
      cur |= code.toLong << nbits; nbits += codeSize
      while (nbits >= 8) { out.write((cur & 0xff).toInt); cur >>= 8; nbits -= 8 }
    }
    val dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var nextCode = eoi + 1
    emit(clear)
    var prev = -1
    for (s <- indices) {
      if (prev == -1) prev = s
      else dict.get((prev, s)) match {
        case Some(c) => prev = c
        case None =>
          emit(prev)
          if (nextCode < 4096) {
            dict((prev, s)) = nextCode; nextCode += 1
            // standard (non-early) bump: the decoder widens after its dict
            // reaches 2^codeSize, which is nextCode - 1 on this side
            if (nextCode == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
          } else {
            emit(clear)
            dict.clear(); nextCode = eoi + 1; codeSize = minCode + 1
          }
          prev = s
      }
    }
    if (prev != -1) emit(prev)
    emit(eoi)
    if (nbits > 0) out.write((cur & 0xff).toInt)
    out.toByteArray
  }

  private def gifLe16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)

  private case class GifFrame(left: Int, top: Int, w: Int, h: Int,
                              indices: Array[Int], interlace: Boolean = false,
                              lct: Array[Byte] = null, transparent: Int = -1,
                              disposal: Int = 0)

  private def gifCtBits(ct: Array[Byte]): Int = {
    // color table size field: 2^(bits+1) entries
    var bits = 0
    while ((2 << bits) < ct.length / 3) bits += 1
    bits
  }

  private def encodeGif(sw: Int, sh: Int, gct: Array[Byte], bg: Int,
                        frames: Seq[GifFrame],
                        version: String = "89a"): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(("GIF" + version).getBytes("US-ASCII"))
    out.write(gifLe16(sw)); out.write(gifLe16(sh))
    out.write(if (gct != null) 0x80 | gifCtBits(gct) else 0)
    out.write(bg); out.write(0)
    if (gct != null) out.write(gct)
    for (f <- frames) {
      if (f.transparent >= 0 || f.disposal > 0) {
        out.write(0x21); out.write(0xf9); out.write(4)
        out.write((f.disposal << 2) | (if (f.transparent >= 0) 1 else 0))
        out.write(gifLe16(0))
        out.write(if (f.transparent >= 0) f.transparent else 0)
        out.write(0)
      }
      out.write(0x2c)
      out.write(gifLe16(f.left)); out.write(gifLe16(f.top))
      out.write(gifLe16(f.w)); out.write(gifLe16(f.h))
      out.write((if (f.lct != null) 0x80 | gifCtBits(f.lct) else 0) |
        (if (f.interlace) 0x40 else 0))
      if (f.lct != null) out.write(f.lct)
      val palEntries = (if (f.lct != null) f.lct.length else gct.length) / 3
      var minCode = 2
      while ((1 << minCode) < palEntries) minCode += 1
      out.write(minCode)
      // interlace: the FILE stores rows in 4-pass order (8/8, 8/8+4,
      // 4/2+2, 2/1+1) — reorder here so the decoder must undo it
      val seq =
        if (!f.interlace) f.indices
        else {
          val rows = Seq(0 -> 8, 4 -> 8, 2 -> 4, 1 -> 2).flatMap {
            case (start, step) => start until f.h by step
          }
          rows.flatMap(y => (0 until f.w).map(x => f.indices(y * f.w + x))).toArray
        }
      val lzw = gifLzwCompress(seq, minCode)
      var p = 0
      while (p < lzw.length) {
        val n = math.min(255, lzw.length - p)
        out.write(n); out.write(lzw, p, n)
        p += n
      }
      out.write(0)
    }
    out.write(0x3b)
    out.toByteArray
  }

  private def grayCt(n: Int): Array[Byte] =
    Array.tabulate[Byte](n * 3)(i => ((i / 3) * 256 / n).toByte)

  private def lumaOfCt(ct: Array[Byte], idx: Int): Float =
    0.299f * (ct(idx * 3) & 0xff) + 0.587f * (ct(idx * 3 + 1) & 0xff) +
      0.114f * (ct(idx * 3 + 2) & 0xff)

  test("GIF decode: LZW + palette recovers known pixels exactly (still, 87a and 89a)") {
    // 16x8 gradient over a 256-entry gray palette: index == gray value
    val w = 16; val h = 8
    val ct = Array.tabulate[Byte](256 * 3)(i => (i / 3).toByte)
    val idx = Array.tabulate(w * h)(k => (k * 255) / (w * h - 1))
    for (ver <- Seq("87a", "89a")) {
      val gif = encodeGif(w, h, ct, 0, Seq(GifFrame(0, 0, w, h, idx)), ver)
      val dec = MediaJob.decodeGifLuma(gif)
      assert(dec.isDefined, s"GIF$ver must decode")
      val (dw, dh, ch, luma) = dec.get
      assert((dw, dh, ch) == (w, h, 3))
      idx.zipWithIndex.foreach { case (v, k) =>
        assert(math.abs(luma(k) - lumaOfCt(ct, v)) < 1e-3f,
          s"pixel $k: got ${luma(k)}, palette index $v")
      }
    }
  }

  test("GIF decode: interlaced file yields the same pixels as sequential") {
    val w = 11; val h = 13 // odd dims exercise pass-boundary arithmetic
    val ct = Array.tabulate[Byte](256 * 3)(i => (i / 3).toByte)
    val idx = Array.tabulate(w * h)(k => (k * 131 + 17) % 256)
    val plain = MediaJob.decodeGifLuma(
      encodeGif(w, h, ct, 0, Seq(GifFrame(0, 0, w, h, idx)))).get
    val inter = MediaJob.decodeGifLuma(
      encodeGif(w, h, ct, 0, Seq(GifFrame(0, 0, w, h, idx, interlace = true)))).get
    assert(plain._4.sameElements(inter._4),
      "interlace is a row permutation — decoded planes must be identical")
  }

  test("GIF decode: dictionary growth to 12-bit codes and clear-on-full round-trips") {
    // 96x96 pseudo-random 256-color noise: ~9k pixels with low repetition
    // forces the dict through every code width and past 4096 entries, so
    // the compressor emits a mid-stream CLEAR the decoder must honor
    val w = 96; val h = 96
    val ct = Array.tabulate[Byte](256 * 3)(i => (i / 3).toByte)
    val rng = new scala.util.Random(0x61f5eed)
    val idx = Array.fill(w * h)(rng.nextInt(256))
    val gif = encodeGif(w, h, ct, 0, Seq(GifFrame(0, 0, w, h, idx)))
    val (dw, dh, _, luma) = MediaJob.decodeGifLuma(gif).get
    assert((dw, dh) == (w, h))
    idx.zipWithIndex.foreach { case (v, k) =>
      assert(math.abs(luma(k) - lumaOfCt(ct, v)) < 1e-3f, s"pixel $k after dict reset")
    }
  }

  test("GIF decode: animation composites sub-rect frames with transparency and disposal") {
    val sw = 8; val sh = 8
    val ct = grayCt(4) // 4 gray levels: 0, 64, 128, 192
    // frame 1: full screen of index 1; frame 2: 4x4 patch at (2,2) of
    // index 3 with index 0 transparent in a checker pattern
    val f1 = GifFrame(0, 0, sw, sh, Array.fill(sw * sh)(1))
    val patch = Array.tabulate(16)(k => if ((k + k / 4) % 2 == 0) 3 else 0)
    val f2 = GifFrame(2, 2, 4, 4, patch, transparent = 0)
    val gif = encodeGif(sw, sh, ct, 0, Seq(f1, f2))
    val dec = MediaJob.decodeGif(gif)
    assert(dec.isDefined)
    val (dw, dh, n, grids, firstLuma) = dec.get
    assert((dw, dh, n) == (sw, sh, 2) && grids.length == 2)
    // first frame: uniformly index 1
    firstLuma.foreach(v => assert(math.abs(v - lumaOfCt(ct, 1)) < 1e-3f))
    // second frame's grid equals the grid of the hand-composited canvas
    val canvas = Array.fill(sw * sh)(lumaOfCt(ct, 1))
    for (y <- 0 until 4; x <- 0 until 4; if (x + y) % 2 == 0)
      canvas((2 + y) * sw + (2 + x)) = lumaOfCt(ct, 3)
    val expect = MediaJob.gridPool16(sw, sh, canvas)
    assert(grids(1).sameElements(expect),
      "transparent pixels must keep the prior frame's content")

    // disposal 2: frame 1 restores to background before frame 2 draws
    val bgIdx = 2
    val f1d = f1.copy(disposal = 2, transparent = 99) // GCE present; 99 unused
    val gifD = encodeGif(sw, sh, ct, bgIdx, Seq(f1d, f2))
    val (_, _, _, gridsD, _) = MediaJob.decodeGif(gifD).get
    val canvasD = Array.fill(sw * sh)(lumaOfCt(ct, bgIdx))
    for (y <- 0 until 4; x <- 0 until 4; if (x + y) % 2 == 0)
      canvasD((2 + y) * sw + (2 + x)) = lumaOfCt(ct, 3)
    assert(gridsD(1).sameElements(MediaJob.gridPool16(sw, sh, canvasD)),
      "disposal=2 must restore the frame rect to the background color")
  }

  test("GIF decode: local color table overrides the global one") {
    val sw = 4; val sh = 4
    val gct = grayCt(4)
    val lct = Array.tabulate[Byte](4 * 3) { i =>
      (255 - (i / 3) * 60).toByte // a distinct, decreasing palette
    }
    val idx = Array.tabulate(16)(_ % 4)
    val gif = encodeGif(sw, sh, gct, 0, Seq(GifFrame(0, 0, sw, sh, idx, lct = lct)))
    val (_, _, _, luma) = MediaJob.decodeGifLuma(gif).get
    idx.zipWithIndex.foreach { case (v, k) =>
      assert(math.abs(luma(k) - lumaOfCt(lct, v)) < 1e-3f,
        "pixels must resolve through the LOCAL color table")
    }
  }

  test("GIF dispatch: decodeStub tiers, probeHeader fallback, crafted-byte safety") {
    val ct = Array.tabulate[Byte](256 * 3)(i => (i / 3).toByte)
    val idx = Array.tabulate(64)(k => (k * 4) % 256)
    val still = encodeGif(8, 8, ct, 0, Seq(GifFrame(0, 0, 8, 8, idx)))
    val (w1, h1, d1, feat1) = MediaJob.decodeStub("image", still)
    assert((w1, h1, d1) == (8, 8, 3) && feat1.length == 16)

    val anim = encodeGif(8, 8, ct, 0,
      Seq(GifFrame(0, 0, 8, 8, idx), GifFrame(0, 0, 8, 8, idx.reverse)))
    val (w2, h2, d2, feat2) = MediaJob.decodeStub("image", anim)
    assert((w2, h2, d2) == (8, 8, 2), "animated GIF: dim3 = frame count")
    assert(feat2.forall(v => !v.isNaN))

    // header-only fallback: a GIF with no image blocks decodes to None but
    // the probe still reports the logical-screen dims
    val headerOnly = still.take(13 + 768) ++ Array[Byte](0x3b)
    assert(MediaJob.decodeGif(headerOnly).isEmpty)
    assert(MediaJob.probeHeader("image", headerOnly) == Some((8, 8, 3)))

    // truncation mid-LZW: decoded prefix or None, never a throw
    for (cut <- Seq(14, 20, 13 + 768 + 5, still.length - 3))
      MediaJob.decodeGif(still.take(cut)) // must not throw
    // crafted: huge declared screen (allocation cap) and zero dims
    val huge = still.clone()
    huge(6) = 0xff.toByte; huge(7) = 0xff.toByte
    huge(8) = 0xff.toByte; huge(9) = 0xff.toByte
    assert(MediaJob.decodeGif(huge).isEmpty, "65535x65535 exceeds the pixel cap")
    val zero = still.clone(); zero(6) = 0; zero(7) = 0
    assert(MediaJob.decodeGif(zero).isEmpty)
    // an out-of-bounds frame rect is counted but not drawn
    val oob = encodeGif(4, 4, grayCt(4), 0,
      Seq(GifFrame(2, 2, 4, 4, Array.fill(16)(1)))) // rect spills past 4x4
    assert(MediaJob.decodeGif(oob).isEmpty, "only-frame out of bounds -> nothing drawable")
  }

  // ---------------------------------------------------------------------
  // Independent BMP assembler: hand-built file + INFOHEADER (or CORE
  // header), palette quads, optional BITFIELDS masks, and its own RLE8/
  // RLE4 run encoder — a separate derivation of the public DIB format.
  private def bmpLe32(v: Int) =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  private def encodeBmp(w: Int, h: Int, bpp: Int, pixelData: Array[Byte],
                        palette: Array[Byte] = null, comp: Int = 0,
                        masks: Array[Int] = null,
                        topDown: Boolean = false): Array[Byte] = {
    val palBytes = if (palette == null) Array.empty[Byte] else palette // BGRA quads
    val maskBytes =
      if (masks == null) Array.empty[Byte] else masks.flatMap(bmpLe32)
    val dataOff = 14 + 40 + maskBytes.length + palBytes.length
    "BM".getBytes("US-ASCII") ++ bmpLe32(dataOff + pixelData.length) ++
      bmpLe32(0) ++ bmpLe32(dataOff) ++
      bmpLe32(40) ++ bmpLe32(w) ++ bmpLe32(if (topDown) -h else h) ++
      Array[Byte](1, 0, bpp.toByte, 0) ++ bmpLe32(comp) ++
      bmpLe32(pixelData.length) ++ bmpLe32(2835) ++ bmpLe32(2835) ++
      bmpLe32(if (palette == null) 0 else palette.length / 4) ++ bmpLe32(0) ++
      maskBytes ++ palBytes ++ pixelData
  }

  private def bmpRgbLuma(r: Int, g: Int, bl: Int): Float =
    0.299f * r + 0.587f * g + 0.114f * bl

  test("BMP decode: 24-bit BGR rows, bottom-up storage, 4-byte padding") {
    // 5x3: width 5 * 3 bytes = 15 -> padded to 16 per row
    val w = 5; val h = 3
    def px(x: Int, y: Int) = (x * 40 + 10, y * 70 + 5, (x + y) * 30) // (r,g,b)
    val rows = (h - 1 to 0 by -1).flatMap { y => // bottom-up file order
      (0 until w).flatMap { x =>
        val (r, g, bl) = px(x, y); Seq(bl.toByte, g.toByte, r.toByte)
      } ++ Seq(0.toByte) // pad 15 -> 16
    }.toArray
    val bmp = encodeBmp(w, h, 24, rows)
    val (dw, dh, ch, luma) = MediaJob.decodeBmpLuma(bmp).get
    assert((dw, dh, ch) == (w, h, 3))
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, bl) = px(x, y)
      assert(math.abs(luma(y * w + x) - bmpRgbLuma(r, g, bl)) < 1e-3f,
        s"pixel ($x,$y)")
    }
    // top-down storage (negative height) must land identically
    val rowsTd = (0 until h).flatMap { y =>
      (0 until w).flatMap { x =>
        val (r, g, bl) = px(x, y); Seq(bl.toByte, g.toByte, r.toByte)
      } ++ Seq(0.toByte)
    }.toArray
    val (_, _, _, lumaTd) =
      MediaJob.decodeBmpLuma(encodeBmp(w, h, 24, rowsTd, topDown = true)).get
    assert(luma.sameElements(lumaTd), "top-down == bottom-up pixels")
  }

  test("BMP decode: palette depths 1/4/8 with row padding") {
    // BGRA palette quads; luma resolves through the palette
    val pal8 = Array.tabulate[Byte](256 * 4)(i =>
      (if (i % 4 == 3) 0 else i / 4).toByte) // gray ramp
    val w = 5; val h = 2
    val idx = Array.tabulate(w * h)(k => (k * 37) % 256)
    val rows8 = (h - 1 to 0 by -1).flatMap { y =>
      (0 until w).map(x => idx(y * w + x).toByte) ++ Seq.fill(3)(0.toByte)
    }.toArray // 5 -> 8 bytes
    val (_, _, _, l8) = MediaJob.decodeBmpLuma(encodeBmp(w, h, 8, rows8, pal8)).get
    idx.zipWithIndex.foreach { case (v, k) =>
      assert(math.abs(l8(k) - bmpRgbLuma(v, v, v)) < 1e-3f, s"8bpp pixel $k")
    }
    // 4bpp: 2 colors used, width 5 -> 3 data bytes -> padded to 4
    val pal4 = Array[Byte](0, 0, 0, 0, /*idx1=white*/ -1, -1, -1, 0) ++
      Array.fill[Byte](14 * 4)(0)
    val nib = Array(1, 0, 1, 0, 1) // row pattern
    val row4 = Array[Byte](((nib(0) << 4) | nib(1)).toByte,
      ((nib(2) << 4) | nib(3)).toByte, (nib(4) << 4).toByte, 0)
    val (_, _, _, l4) = MediaJob.decodeBmpLuma(encodeBmp(5, 1, 4, row4, pal4)).get
    for (x <- 0 until 5)
      assert(math.abs(l4(x) - (if (nib(x) == 1) 255.0f else 0.0f)) < 1e-3f)
    // 1bpp: MSB-first bits, 10 px wide -> 2 data bytes -> padded to 4
    val pal1 = Array[Byte](0, 0, 0, 0, -1, -1, -1, 0)
    val row1 = Array[Byte](0xaa.toByte, 0x80.toByte, 0, 0) // 1010101010
    val (_, _, _, l1) = MediaJob.decodeBmpLuma(encodeBmp(10, 1, 1, row1, pal1)).get
    for (x <- 0 until 10)
      assert(math.abs(l1(x) - (if (x % 2 == 0) 255.0f else 0.0f)) < 1e-3f,
        s"1bpp pixel $x")
  }

  test("BMP decode: 16-bit RGB555 default, 565 BITFIELDS masks, 32-bit BGRx") {
    def le16b(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    // RGB555: r=31 g=0 b=0 -> red; scale 5 bits -> 255
    val p555 = le16b(31 << 10) ++ le16b(31 << 5) // red px, green px
    val (_, _, _, l555) = MediaJob.decodeBmpLuma(encodeBmp(2, 1, 16, p555)).get
    assert(math.abs(l555(0) - bmpRgbLuma(255, 0, 0)) < 1e-3f)
    assert(math.abs(l555(1) - bmpRgbLuma(0, 255, 0)) < 1e-3f)
    // 565 via BITFIELDS: g has 6 bits
    val p565 = le16b(63 << 5) ++ le16b(31) // green px, blue px
    val bmp565 = encodeBmp(2, 1, 16, p565, comp = 3,
      masks = Array(0xf800, 0x07e0, 0x001f))
    val (_, _, _, l565) = MediaJob.decodeBmpLuma(bmp565).get
    assert(math.abs(l565(0) - bmpRgbLuma(0, 255, 0)) < 1e-3f)
    assert(math.abs(l565(1) - bmpRgbLuma(0, 0, 255)) < 1e-3f)
    // 32-bit BGRx
    val p32 = Array[Byte](10, 20, 30, 0, 40, 50, 60, 0) // (b,g,r,x)*2
    val (_, _, ch32, l32) = MediaJob.decodeBmpLuma(encodeBmp(2, 1, 32, p32)).get
    assert(ch32 == 4)
    assert(math.abs(l32(0) - bmpRgbLuma(30, 20, 10)) < 1e-3f)
    assert(math.abs(l32(1) - bmpRgbLuma(60, 50, 40)) < 1e-3f)
  }

  test("BMP decode: RLE8 and RLE4 runs, absolute mode, EOL/EOB/delta escapes") {
    val pal = Array.tabulate[Byte](256 * 4)(i =>
      (if (i % 4 == 3) 0 else i / 4).toByte) // gray ramp
    // 6x2 RLE8 (bottom-up lines): line0(file) = bottom row
    // bottom row: run 3x200, absolute 3 literals [9,77,130] (word-padded
    // — absolute mode needs count >= 3; 00 02 IS the delta escape), EOL
    // top row: run 3x50, delta skip 2, run 1x125, EOB
    val rle8 = Array[Byte](
      3, 200.toByte, 0, 3, 9, 77, 130.toByte, 0, 0, 0, // bottom: run, abs 3+pad, EOL
      3, 50, 0, 2, 2, 0, 1, 125.toByte, 0, 1) // top: run, delta(+2,0), run, EOB
    val bmp8 = encodeBmp(6, 2, 8, rle8, pal, comp = 1)
    val (_, _, _, lr) = MediaJob.decodeBmpLuma(bmp8).get
    val expBottom = Array(200, 200, 200, 9, 77, 130)
    val expTop = Array(50, 50, 50, 0, 0, 125) // delta leaves zeros (undrawn)
    for (x <- 0 until 6) {
      assert(math.abs(lr(1 * 6 + x) - bmpRgbLuma(expBottom(x), expBottom(x), expBottom(x))) < 1e-3f,
        s"RLE8 bottom px $x")
      val e = expTop(x)
      val want = if (e == 0) 0.0f else bmpRgbLuma(e, e, e)
      assert(math.abs(lr(0 * 6 + x) - want) < 1e-3f, s"RLE8 top px $x")
    }
    // RLE4: run of 5 alternating nibbles 0xC3 -> C,3,C,3,C then EOB
    val rle4 = Array[Byte](5, 0xc3.toByte, 0, 1)
    val pal16 = Array.tabulate[Byte](16 * 4)(i =>
      (if (i % 4 == 3) 0 else (i / 4) * 17).toByte)
    val (_, _, _, l4) = MediaJob.decodeBmpLuma(encodeBmp(5, 1, 4, rle4, pal16, comp = 2)).get
    val expN = Array(0xc, 3, 0xc, 3, 0xc)
    for (x <- 0 until 5) {
      val g = expN(x) * 17
      assert(math.abs(l4(x) - bmpRgbLuma(g, g, g)) < 1e-3f, s"RLE4 px $x")
    }
  }

  test("BMP decode: COREHEADER, probe fallback, truncation and crafted-dims safety") {
    // BITMAPCOREHEADER: 12-byte DIB, u16 dims, BGR palette TRIPLES
    val core = "BM".getBytes ++ bmpLe32(0) ++ bmpLe32(0) ++ bmpLe32(14 + 12 + 6) ++
      bmpLe32(12) ++ Array[Byte](2, 0, 1, 0, 1, 0, 24, 0) ++ // 2x1, 1 plane, 24bpp
      Array[Byte](0, 0, 0, 0, 0, 0) ++ // (unused palette slot filler)
      Array[Byte](100, 50, 25, 75, 125, 0xaf.toByte) // BGR BGR (8 bytes -> pad)
    // note: dataOff points past the 6 filler bytes; row = 6 bytes pads to 8
    val dec = MediaJob.decodeBmpLuma(core ++ Array[Byte](0, 0))
    assert(dec.isDefined, "COREHEADER must parse")
    val (cw, chh, _, cl) = dec.get
    assert((cw, chh) == (2, 1))
    assert(math.abs(cl(0) - bmpRgbLuma(25, 50, 100)) < 1e-3f)
    assert(math.abs(cl(1) - bmpRgbLuma(0xaf, 125, 75)) < 1e-3f)

    // probeHeader fallback on a truncated INFOHEADER BMP (no pixel rows)
    val full = encodeBmp(7, 4, 24, Array.fill[Byte](4 * 24)(3))
    val headerOnly = full.take(54)
    assert(MediaJob.decodeBmpLuma(headerOnly).isEmpty)
    assert(MediaJob.probeHeader("image", headerOnly) == Some((7, 4, 3)))
    // decodeStub rides the real decode for a valid BMP
    val (sw, sh, sch, feat) = MediaJob.decodeStub("image", full)
    assert((sw, sh, sch) == (7, 4, 3) && feat.length == 16)
    // crafted: huge dims bounce off the allocation cap; truncations never throw
    val huge = full.clone()
    System.arraycopy(bmpLe32(1 << 20), 0, huge, 18, 4)
    System.arraycopy(bmpLe32(1 << 20), 0, huge, 22, 4)
    assert(MediaJob.decodeBmpLuma(huge).isEmpty)
    for (cut <- Seq(3, 15, 29, 53, 60, full.length - 5))
      MediaJob.decodeBmpLuma(full.take(cut)) // must not throw
  }

  // ---------------------------------------------------------------------
  // Independent MP3 frame assembler and Ogg page assembler for the audio
  // metadata walks.
  private def mp3Frame(verBits: Int, layerBits: Int, brIdx: Int, srIdx: Int,
                       padding: Int, mode: Int, kbps: Int, sr: Int,
                       samples: Int): Array[Byte] = {
    val len =
      if (layerBits == 3) (12 * kbps * 1000 / sr + padding) * 4 // Layer I
      else samples / 8 * kbps * 1000 / sr + padding
    val f = new Array[Byte](len)
    f(0) = 0xff.toByte
    f(1) = (0xe0 | (verBits << 3) | (layerBits << 1) | 1).toByte // no CRC
    f(2) = ((brIdx << 4) | (srIdx << 2) | (padding << 1)).toByte
    f(3) = (mode << 6).toByte
    f
  }

  private def oggPage(granule: Long, serial: Int, seq: Int,
                      body: Array[Byte], headerType: Int = 0): Array[Byte] = {
    require(body.length < 255 * 255)
    val segs =
      if (body.isEmpty) Array[Byte](0)
      else {
        val full = body.length / 255
        val lastN = body.length % 255
        (Array.fill(full)(255.toByte) :+ lastN.toByte)
      }
    val out = new java.io.ByteArrayOutputStream()
    out.write("OggS".getBytes("US-ASCII"))
    out.write(0); out.write(headerType)
    for (k <- 0 until 8) out.write(((granule >> (8 * k)) & 0xff).toInt)
    for (k <- 0 until 4) out.write((serial >> (8 * k)) & 0xff)
    for (k <- 0 until 4) out.write((seq >> (8 * k)) & 0xff)
    out.write(Array[Byte](0, 0, 0, 0)) // CRC (the walk doesn't verify it)
    out.write(segs.length)
    out.write(segs)
    out.write(body)
    out.toByteArray
  }

  test("MP3 metadata walk: frame headers accumulate samples across layers and versions") {
    // MPEG-1 Layer III, 128 kbps @ 44100, stereo: 1152 samples/frame
    val f1 = mp3Frame(3, 1, 9, 0, 0, 0, 128, 44100, 1152)
    assert(f1.length == 417)
    val mp3 = Array.concat(f1, f1, f1, f1, f1)
    assert(MediaJob.probeMp3(mp3) == Some((44100, 5 * 1152, 2)))
    // leading ID3v2 tag (syncsafe size) is skipped
    val id3 = "ID3".getBytes ++ Array[Byte](4, 0, 0, 0, 0, 1, 4) ++
      Array.fill[Byte](132)(0x55) // size = 1<<7 | 4 = 132
    assert(MediaJob.probeMp3(id3 ++ mp3) == Some((44100, 5 * 1152, 2)))
    // MPEG-2 Layer III mono @ 22050: 576 samples/frame
    val f2 = mp3Frame(2, 1, 5, 0, 0, 3, 40, 22050, 576)
    assert(MediaJob.probeMp3(Array.concat(f2, f2, f2)) == Some((22050, 3 * 576, 1)))
    // Layer I @ 48000: 384 samples/frame, the x4 slot formula
    val fL1 = mp3Frame(3, 3, 8, 1, 0, 0, 256, 48000, 384)
    assert(fL1.length == (12 * 256000 / 48000) * 4)
    assert(MediaJob.probeMp3(Array.concat(fL1, fL1)) == Some((48000, 2 * 384, 2)))
    // padding bit lengthens the frame by one byte without breaking the walk
    val fp = mp3Frame(3, 1, 9, 0, 1, 0, 128, 44100, 1152)
    assert(MediaJob.probeMp3(Array.concat(fp, f1)) == Some((44100, 2 * 1152, 2)))
    // a truncated final frame still counts (its header declares the samples)
    assert(MediaJob.probeMp3(mp3.take(417 * 2 + 100)) == Some((44100, 3 * 1152, 2)))
    // trailing garbage ends the walk at the prefix; pure garbage is None
    assert(MediaJob.probeMp3(f1 ++ "garbage".getBytes) == Some((44100, 1152, 2)))
    assert(MediaJob.probeMp3("garbage".getBytes).isEmpty)
    assert(MediaJob.probeMp3(null).isEmpty)
    // free-format (bitrate idx 0) and reserved indices reject
    val free = f1.clone(); free(2) = 0
    assert(MediaJob.probeMp3(free).isEmpty)
    // probeHeader dispatches MP3 (raw and ID3-prefixed)
    assert(MediaJob.probeHeader("audio", mp3) == Some((44100, 5 * 1152, 2)))
    val (_, _, _, feat) = MediaJob.decodeStub("audio", mp3)
    assert(feat.length == 16)
  }

  test("Ogg metadata walk: Vorbis and Opus id headers plus last-page granule") {
    // Vorbis id packet: \x01vorbis ver(4) channels(1) rate(4) ...
    val vorbisId = Array[Byte](1) ++ "vorbis".getBytes ++
      Array[Byte](0, 0, 0, 0, 2) ++ // version, channels=2
      Array[Byte](0x44, 0xac.toByte, 0, 0) ++ // 44100 u32le
      Array.fill[Byte](9)(0)
    val audioBody = Array.fill[Byte](100)(0x11)
    val ogg = oggPage(0, 7, 0, vorbisId, headerType = 2) ++
      oggPage(30000, 7, 1, audioBody) ++
      oggPage(88200, 7, 2, audioBody, headerType = 4)
    assert(MediaJob.probeOgg(ogg) == Some((44100, 88200, 2)))
    assert(MediaJob.probeHeader("audio", ogg) == Some((44100, 88200, 2)))
    // Opus: granule ticks at 48 kHz; pre-skip subtracts
    val opusId = "OpusHead".getBytes ++ Array[Byte](1, 1) ++ // ver, channels=1
      Array[Byte](0x38, 1) ++ // pre-skip 312 u16le
      Array[Byte](0x80.toByte, 0xbb.toByte, 0, 0) ++ // input rate 48000
      Array.fill[Byte](3)(0)
    val oggOpus = oggPage(0, 9, 0, opusId, headerType = 2) ++
      oggPage(960 * 50, 9, 1, audioBody, headerType = 4)
    assert(MediaJob.probeOgg(oggOpus) == Some((48000, 960 * 50 - 312, 1)))
    // truncated tail: the last VISIBLE page's granule answers
    val cut = ogg.take(oggPage(0, 7, 0, vorbisId, headerType = 2).length +
      oggPage(30000, 7, 1, audioBody).length + 10)
    assert(MediaJob.probeOgg(cut) == Some((44100, 30000, 2)))
    // a -1 granule (page with no packet end) must not regress the count
    val oggNeg = oggPage(0, 7, 0, vorbisId, headerType = 2) ++
      oggPage(50000, 7, 1, audioBody) ++
      oggPage(-1L, 7, 2, audioBody)
    assert(MediaJob.probeOgg(oggNeg) == Some((44100, 50000, 2)))
    // garbage and non-Ogg bytes are None; never a throw on truncations
    assert(MediaJob.probeOgg("OggZ not really".getBytes).isEmpty)
    for (c <- Seq(3, 26, 27, 40)) MediaJob.probeOgg(ogg.take(c))
  }

  // ---------------------------------------------------------------------
  // Independent FLAC encoder: its own MSB-first bit writer, real CRC-8/
  // CRC-16 (polys 0x07/0x8005), STREAMINFO assembly, rice residual
  // ENCODER with zig-zag folding and partitioning — a separate derivation
  // of RFC 9639 pinning the kernel's decoder.
  private final class FlacBitWriter {
    private val buf = new java.io.ByteArrayOutputStream()
    private var cur = 0; private var nbits = 0
    def write(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) {
        cur = (cur << 1) | ((v >> k) & 1); nbits += 1
        if (nbits == 8) { buf.write(cur); cur = 0; nbits = 0 }
        k -= 1
      }
    }
    def writeUnary(q: Int): Unit = {
      (0 until q).foreach(_ => write(0, 1)); write(1, 1)
    }
    def align(): Unit = while (nbits != 0) write(0, 1)
    def bytesSoFar: Array[Byte] = {
      require(nbits == 0, "snapshot only at byte alignment")
      buf.toByteArray
    }
  }

  private def flacCrc8(bytes: Array[Byte]): Int = {
    var crc = 0
    for (b <- bytes) {
      crc ^= (b & 0xff)
      for (_ <- 0 until 8)
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
    }
    crc
  }

  private def flacCrc16(bytes: Array[Byte]): Int = {
    var crc = 0
    for (b <- bytes) {
      crc ^= (b & 0xff) << 8
      for (_ <- 0 until 8)
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
        else (crc << 1) & 0xffff
    }
    crc
  }

  private def flacStreamInfo(rate: Int, channels: Int, bps: Int,
                             total: Long): Array[Byte] = {
    val w = new FlacBitWriter
    w.write(4096, 16); w.write(4096, 16) // min/max block size
    w.write(0, 24); w.write(0, 24) // min/max frame size (unknown)
    w.write(rate, 20)
    w.write(channels - 1, 3)
    w.write(bps - 1, 5)
    w.write((total >> 32).toInt & 0xf, 4)
    w.write(total.toInt, 32)
    (0 until 16).foreach(_ => w.write(0, 8)) // md5 (unverified)
    val body = w.bytesSoFar
    "fLaC".getBytes("US-ASCII") ++
      Array[Byte](0x80.toByte, 0, 0, body.length.toByte) ++ body
  }

  private def flacZigzag(v: Int): Long = ((v.toLong << 1) ^ (v.toLong >> 63)) & 0xffffffffL

  private def flacWriteRice(w: FlacBitWriter, resid: Array[Int], n: Int,
                            order: Int, partOrder: Int, param: Int): Unit = {
    w.write(0, 2) // method: 4-bit rice
    w.write(partOrder, 4)
    val parts = 1 << partOrder
    var k = 0
    for (p <- 0 until parts) {
      val cnt = (n >> partOrder) - (if (p == 0) order else 0)
      w.write(param, 4)
      for (_ <- 0 until cnt) {
        val u = flacZigzag(resid(k)); k += 1
        w.writeUnary((u >>> param).toInt)
        if (param > 0) w.write((u & ((1L << param) - 1)).toInt, param)
      }
    }
  }

  /** One frame; subWriter fills in the per-channel subframes. */
  private def flacFrame(frameIdx: Int, blockSize: Int, bps: Int, chAsgn: Int,
                        subWriter: FlacBitWriter => Unit): Array[Byte] = {
    val w = new FlacBitWriter
    w.write(0x3ffe, 14); w.write(0, 1); w.write(0, 1)
    val bsCode = if (blockSize <= 256) 6 else 7
    w.write(bsCode, 4)
    w.write(0, 4) // sample rate: from STREAMINFO
    w.write(chAsgn, 4)
    val ssCode = bps match {
      case 8 => 1; case 12 => 2; case 16 => 4; case 20 => 5; case 24 => 6
      case _ => 0
    }
    w.write(ssCode, 3); w.write(0, 1)
    w.write(frameIdx & 0x7f, 8) // single-byte coded number
    if (bsCode == 6) w.write(blockSize - 1, 8) else w.write(blockSize - 1, 16)
    w.write(flacCrc8(w.bytesSoFar), 8)
    subWriter(w)
    w.align()
    w.write(flacCrc16(w.bytesSoFar), 16)
    w.bytesSoFar
  }

  private def flacVerbatim(w: FlacBitWriter, samples: Array[Int], bps: Int,
                           wasted: Int = 0): Unit = {
    w.write(0, 1); w.write(1, 6)
    if (wasted == 0) w.write(0, 1)
    else { w.write(1, 1); (0 until wasted - 1).foreach(_ => w.write(0, 1)); w.write(1, 1) }
    samples.foreach(s => w.write(s >> wasted, bps - wasted))
  }

  private def flacRmsOf(samples: Array[Double], nFrames: Int): Array[Float] = {
    // the documented 16-window RMS shape, derived here independently
    val perFrame = samples.length / nFrames
    Array.tabulate(16) { win =>
      val s0 = (win.toLong * nFrames / 16).toInt * perFrame
      val s1 = ((win + 1).toLong * nFrames / 16).toInt * perFrame
      val n = s1 - s0
      if (n == 0) -0.5f
      else {
        var sum = 0.0
        for (s <- s0 until s1) sum += samples(s) * samples(s)
        (math.sqrt(sum / n) - 0.5).toFloat
      }
    }
  }

  test("FLAC decode: verbatim subframe round-trips exact samples (RMS ground truth)") {
    val n = 64
    val x = Array.tabulate(n)(k =>
      (math.sin(k * 0.3) * 12000).toInt) // 16-bit scale signal
    val flac = flacStreamInfo(8000, 1, 16, n) ++
      flacFrame(0, n, 16, 0, w => flacVerbatim(w, x, 16))
    val dec = MediaJob.decodeFlacRms(flac)
    assert(dec.isDefined, "verbatim FLAC must decode")
    val (rate, frames, feat) = dec.get
    assert((rate, frames) == (8000, n))
    val expect = flacRmsOf(x.map(_ / 32768.0), n)
    assert(feat.sameElements(expect), "decoded RMS must equal the ground-truth RMS")
  }

  test("FLAC decode: constant, fixed-order and LPC subframes reconstruct exactly") {
    val n = 64
    // a smooth signal so low-order prediction has small residuals
    val x = Array.tabulate(n)(k => (math.sin(k * 0.2) * 8000).toInt)
    def verbatimFile(sig: Array[Int]) = flacStreamInfo(8000, 1, 16, n) ++
      flacFrame(0, n, 16, 0, w => flacVerbatim(w, sig, 16))

    // FIXED order 2: residual e(k) = x(k) - 2x(k-1) + x(k-2)
    val resid2 = Array.tabulate(n)(k =>
      if (k < 2) 0 else x(k) - 2 * x(k - 1) + x(k - 2))
    val fixedFile = flacStreamInfo(8000, 1, 16, n) ++
      flacFrame(0, n, 16, 0, { w =>
        w.write(0, 1); w.write(10, 6); w.write(0, 1) // FIXED order 2
        w.write(x(0) & 0xffff, 16); w.write(x(1) & 0xffff, 16)
        flacWriteRice(w, resid2.drop(2), n, 2, 0, 6)
      })
    val vDec = MediaJob.decodeFlacRms(verbatimFile(x)).get
    val fDec = MediaJob.decodeFlacRms(fixedFile).get
    assert(fDec._3.sameElements(vDec._3),
      "FIXED-order-2 reconstruction must equal the verbatim decode")

    // FIXED order 2 with PARTITIONED residual (order 2 -> 4 partitions)
    val partFile = flacStreamInfo(8000, 1, 16, n) ++
      flacFrame(0, n, 16, 0, { w =>
        w.write(0, 1); w.write(10, 6); w.write(0, 1)
        w.write(x(0) & 0xffff, 16); w.write(x(1) & 0xffff, 16)
        flacWriteRice(w, resid2.drop(2), n, 2, 2, 6)
      })
    assert(MediaJob.decodeFlacRms(partFile).get._3.sameElements(vDec._3),
      "4-partition rice residual must reconstruct identically")

    // LPC order 2: coefs (3, -2), shift 1 -> pred = (3x[k-1] - 2x[k-2]) >> 1
    val residL = Array.tabulate(n) { k =>
      if (k < 2) 0
      else x(k) - (((3L * x(k - 1) - 2L * x(k - 2)) >> 1)).toInt
    }
    val lpcFile = flacStreamInfo(8000, 1, 16, n) ++
      flacFrame(0, n, 16, 0, { w =>
        w.write(0, 1); w.write(32 + 1, 6); w.write(0, 1) // LPC order 2
        w.write(x(0) & 0xffff, 16); w.write(x(1) & 0xffff, 16)
        w.write(14, 4) // precision-1 = 14 -> 15-bit coefs
        w.write(1, 5)  // shift 1
        w.write(3 & 0x7fff, 15); w.write(-2 & 0x7fff, 15)
        flacWriteRice(w, residL.drop(2), n, 2, 0, 6)
      })
    assert(MediaJob.decodeFlacRms(lpcFile).get._3.sameElements(vDec._3),
      "LPC reconstruction must equal the verbatim decode")

    // CONSTANT subframe: a silent stream has RMS exactly -0.5 per window
    val silent = flacStreamInfo(8000, 1, 16, n) ++
      flacFrame(0, n, 16, 0, { w =>
        w.write(0, 1); w.write(0, 6); w.write(0, 1); w.write(0, 16)
      })
    val sDec = MediaJob.decodeFlacRms(silent).get
    assert(sDec._3.forall(_ == -0.5f))

    // wasted bits: samples all multiples of 4 stored at bps-2
    val x4 = x.map(v => (v / 4) * 4)
    val wastedFile = flacStreamInfo(8000, 1, 16, n) ++
      flacFrame(0, n, 16, 0, w => flacVerbatim(w, x4, 16, wasted = 2))
    val wDec = MediaJob.decodeFlacRms(wastedFile).get
    assert(wDec._3.sameElements(MediaJob.decodeFlacRms(verbatimFile(x4)).get._3),
      "wasted-bits restore must recover the shifted samples")
  }

  test("FLAC decode: stereo decorrelation modes and multi-frame truncation") {
    val n = 32
    val left = Array.tabulate(n)(k => (math.sin(k * 0.4) * 9000).toInt)
    val right = Array.tabulate(n)(k => (math.cos(k * 0.25) * 7000).toInt)
    // independent channels (chAsgn 1): the reference decode
    def indep = flacStreamInfo(8000, 2, 16, n) ++
      flacFrame(0, n, 16, 1, { w =>
        flacVerbatim(w, left, 16); flacVerbatim(w, right, 16)
      })
    val ref = MediaJob.decodeFlacRms(indep).get
    // mid/side (chAsgn 10): mid = (L+R)>>1, side = L-R (side gets 17 bits)
    val mid = Array.tabulate(n)(k => (left(k) + right(k)) >> 1)
    val side = Array.tabulate(n)(k => left(k) - right(k))
    val ms = flacStreamInfo(8000, 2, 16, n) ++
      flacFrame(0, n, 16, 10, { w =>
        flacVerbatim(w, mid, 16); flacVerbatim(w, side, 17)
      })
    assert(MediaJob.decodeFlacRms(ms).get._3.sameElements(ref._3),
      "mid/side must reconstruct the exact L/R samples")
    // left/side (8) and right/side (9)
    val ls = flacStreamInfo(8000, 2, 16, n) ++
      flacFrame(0, n, 16, 8, { w =>
        flacVerbatim(w, left, 16); flacVerbatim(w, side, 17)
      })
    assert(MediaJob.decodeFlacRms(ls).get._3.sameElements(ref._3))
    val rs = flacStreamInfo(8000, 2, 16, n) ++
      flacFrame(0, n, 16, 9, { w =>
        flacVerbatim(w, side, 17); flacVerbatim(w, right, 16)
      })
    assert(MediaJob.decodeFlacRms(rs).get._3.sameElements(ref._3))

    // three frames; a truncated third leaves the two-frame prefix
    val f = (i: Int) => flacFrame(i, n, 16, 1, { w =>
      flacVerbatim(w, left, 16); flacVerbatim(w, right, 16)
    })
    val three = flacStreamInfo(8000, 2, 16, 3L * n) ++ f(0) ++ f(1) ++ f(2)
    assert(MediaJob.decodeFlacRms(three).get._2 == 3 * n)
    val cut = three.take(three.length - f(2).length / 2)
    val cutDec = MediaJob.decodeFlacRms(cut)
    assert(cutDec.isDefined && cutDec.get._2 == 2 * n,
      "a truncated tail frame must leave the decoded prefix")

    // dispatch + probe fallback + crafted safety
    val (rate, frames, ch, feat) = MediaJob.decodeStub("audio", three)
    assert((rate, frames, ch) == (8000, 3 * n, 1) && feat.length == 16)
    val headerOnly = flacStreamInfo(44100, 2, 16, 12345L)
    assert(MediaJob.decodeFlacRms(headerOnly).isEmpty)
    assert(MediaJob.probeHeader("audio", headerOnly) == Some((44100, 12345, 2)))
    for (c <- Seq(3, 10, 41, 50, three.length - 3))
      MediaJob.decodeFlacRms(three.take(c)) // must not throw
  }

  test("FLAC decode: frames claiming more channels than STREAMINFO stay within the sample cap") {
    // STREAMINFO says mono; each ~30-byte frame claims 8 independent
    // channels of 65536 CONSTANT samples, so 64 frames would be 32M samples
    val frame = (i: Int) => flacFrame(i, 65536, 16, 7, { w =>
      (0 until 8).foreach { _ => w.write(0, 1); w.write(0, 6); w.write(0, 1); w.write(1000, 16) }
    })
    val bomb = flacStreamInfo(8000, 1, 16, 0L) ++ (0 until 64).flatMap(i => frame(i).toSeq)
    val (_, frames, _) = MediaJob.decodeFlacRms(bomb).get
    assert(frames.toLong * 8 <= (16L << 20) + 8 * 65536,
      s"decoded $frames frames of 8 channels past the 16M-sample cap")
  }

  // ---------------------------------------------------------------------
  // Independent TIFF assembler (both byte orders, hand-built IFDs) with
  // its own PackBits and TIFF-LZW COMPRESSORS (MSB-first packing, EARLY
  // code-width change) — a separate derivation of TIFF 6.0.
  private def tiffLzwCompress(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var cur = 0L; var nbits = 0
    var codeSize = 9
    def emit(code: Int): Unit = {
      cur = (cur << codeSize) | code; nbits += codeSize
      while (nbits >= 8) {
        out.write(((cur >> (nbits - 8)) & 0xff).toInt); nbits -= 8
      }
    }
    val dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var nextCode = 258
    emit(256)
    var prev = -1
    for (byteV <- data) {
      val s = byteV & 0xff
      if (prev == -1) prev = s
      else dict.get((prev, s)) match {
        case Some(c) => prev = c
        case None =>
          emit(prev)
          dict((prev, s)) = nextCode; nextCode += 1
          // EARLY change: the decoder widens one code sooner than GIF's
          if (nextCode == (1 << codeSize) && codeSize < 12) codeSize += 1
          if (nextCode >= 4093) {
            emit(256); dict.clear(); nextCode = 258; codeSize = 9
          }
          prev = s
      }
    }
    if (prev != -1) emit(prev)
    emit(257)
    if (nbits > 0) out.write(((cur << (8 - nbits)) & 0xff).toInt)
    out.toByteArray
  }

  private def packBitsCompress(data: Array[Byte]): Array[Byte] = {
    // simple run/literal splitter: runs of >= 3 become repeats
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < data.length) {
      var run = 1
      while (i + run < data.length && data(i + run) == data(i) && run < 128) run += 1
      if (run >= 3) { out.write(1 - run); out.write(data(i)); i += run }
      else {
        var lit = i
        while (lit < data.length && lit - i < 128 &&
          !(lit + 2 < data.length && data(lit) == data(lit + 1) &&
            data(lit) == data(lit + 2))) lit += 1
        out.write(lit - i - 1)
        out.write(data, i, lit - i)
        i = lit
      }
    }
    out.toByteArray
  }

  private def encodeTiff(le: Boolean, entries: Seq[(Int, Int, Int, Long)],
                         trailing: Array[Byte]): Array[Byte] = {
    def w16(v: Int) =
      if (le) Array[Byte](v.toByte, (v >> 8).toByte)
      else Array[Byte]((v >> 8).toByte, v.toByte)
    def w32(v: Long) =
      if (le) Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
      else Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val out = new java.io.ByteArrayOutputStream()
    out.write(if (le) "II".getBytes ++ Array[Byte](42, 0)
              else "MM".getBytes ++ Array[Byte](0, 42))
    out.write(w32(8))
    out.write(w16(entries.length))
    for ((tag, typ, cnt, v) <- entries) {
      out.write(w16(tag)); out.write(w16(typ)); out.write(w32(cnt))
      if (typ == 3 && cnt == 1) { out.write(w16(v.toInt)); out.write(w16(0)) }
      else out.write(w32(v))
    }
    out.write(w32(0)) // no next IFD
    out.write(trailing)
    out.toByteArray
  }

  /** offset of the byte right after the IFD, where `trailing` starts */
  private def tiffDataOff(nEntries: Int): Int = 8 + 2 + 12 * nEntries + 4

  test("TIFF decode: 8-bit gray strips in both byte orders, multi-strip assembly") {
    val w = 6; val h = 4
    val px = Array.tabulate(w * h)(k => ((k * 31) % 256).toByte)
    // two strips of 2 rows each; strip arrays live out-of-line
    for (le <- Seq(true, false)) {
      val n = 8
      val base = tiffDataOff(n)
      // trailing: stripOffsets(2 LONGs) ++ stripCounts(2 LONGs) ++ px
      val pxOff = base + 16
      def w32v(v: Int) =
        if (le) Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
        else Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
      val trailing = w32v(pxOff) ++ w32v(pxOff + w * 2) ++
        w32v(w * 2) ++ w32v(w * 2) ++ px
      val tiff = encodeTiff(le, Seq(
        (256, 3, 1, w.toLong), (257, 3, 1, h.toLong), (258, 3, 1, 8L),
        (259, 3, 1, 1L), (262, 3, 1, 1L),
        (273, 4, 2, base.toLong), (278, 3, 1, 2L), (279, 4, 2, base + 8L)),
        trailing)
      val dec = MediaJob.decodeTiffLuma(tiff)
      assert(dec.isDefined, s"gray TIFF (le=$le) must decode")
      val (dw, dh, _, luma) = dec.get
      assert((dw, dh) == (w, h))
      px.zipWithIndex.foreach { case (v, k) =>
        assert(luma(k) == (v & 0xff).toFloat, s"le=$le pixel $k")
      }
    }
  }

  test("TIFF decode: RGB, palette, 1-bit WhiteIsZero, 16-bit gray") {
    // RGB chunky, single strip
    val w = 3; val h = 2
    val rgb = Array.tabulate[Byte](w * h * 3)(k => ((k * 23 + 5) % 256).toByte)
    val n1 = 8
    val tiffRgb = encodeTiff(le = true, Seq(
      (256, 3, 1, w.toLong), (257, 3, 1, h.toLong), (258, 3, 1, 8L),
      (259, 3, 1, 1L), (262, 3, 1, 2L),
      (273, 4, 1, tiffDataOff(n1).toLong), (277, 3, 1, 3L),
      (279, 4, 1, (w * h * 3).toLong)), rgb)
    val (_, _, ch, lr) = MediaJob.decodeTiffLuma(tiffRgb).get
    assert(ch == 3)
    for (k <- 0 until w * h) {
      val r = rgb(3 * k) & 0xff; val g = rgb(3 * k + 1) & 0xff
      val bl = rgb(3 * k + 2) & 0xff
      assert(math.abs(lr(k) - bmpRgbLuma(r, g, bl)) < 1e-3f, s"RGB px $k")
    }
    // palette 4-bit: 16-entry ColorMap of u16s (value * 257 scales back)
    val idx = Array(1, 15, 7, 0, 3, 9) // 6 px, 3 per row -> 2 bytes + pad? w=3 -> 2 bytes/row
    val rows = Array[Byte](((idx(0) << 4) | idx(1)).toByte, (idx(2) << 4).toByte,
      ((idx(3) << 4) | idx(4)).toByte, (idx(5) << 4).toByte)
    val n2 = 8
    val cmapOff = tiffDataOff(n2)
    val cmap = new java.io.ByteArrayOutputStream()
    def gray16(k: Int) = k * 16 // palette gray value
    for (plane <- 0 until 3; k <- 0 until 16) {
      val v = gray16(k) * 257
      cmap.write(v & 0xff); cmap.write((v >> 8) & 0xff) // LE u16
    }
    val pxOff = cmapOff + 96
    val tiffPal = encodeTiff(le = true, Seq(
      (256, 3, 1, 3L), (257, 3, 1, 2L), (258, 3, 1, 4L),
      (259, 3, 1, 1L), (262, 3, 1, 3L),
      (273, 4, 1, pxOff.toLong), (279, 4, 1, rows.length.toLong),
      (320, 3, 48, cmapOff.toLong)), cmap.toByteArray ++ rows)
    val (_, _, _, lp) = MediaJob.decodeTiffLuma(tiffPal).get
    for (k <- 0 until 6) {
      val g = gray16(idx(k))
      assert(math.abs(lp(k) - bmpRgbLuma(g, g, g)) < 1e-3f, s"palette px $k")
    }
    // 1-bit WhiteIsZero: bit 0 -> white (255), bit 1 -> black
    val bits = Array[Byte](0xa0.toByte) // row: 1,0,1 (3 px, MSB-first)
    val n3 = 7
    val tiff1 = encodeTiff(le = true, Seq(
      (256, 3, 1, 3L), (257, 3, 1, 1L), (258, 3, 1, 1L),
      (259, 3, 1, 1L), (262, 3, 1, 0L),
      (273, 4, 1, tiffDataOff(n3).toLong), (279, 4, 1, 1L)), bits)
    val (_, _, _, l1) = MediaJob.decodeTiffLuma(tiff1).get
    assert(l1(0) == 0.0f && l1(1) == 255.0f && l1(2) == 0.0f,
      "WhiteIsZero must invert: set bits are black")
    // 16-bit gray LE: high byte is the luma
    val px16 = Array[Byte](0x34, 0x12, 0x00, 0xff.toByte) // 0x1234, 0xff00
    val tiff16 = encodeTiff(le = true, Seq(
      (256, 3, 1, 2L), (257, 3, 1, 1L), (258, 3, 1, 16L),
      (259, 3, 1, 1L), (262, 3, 1, 1L),
      (273, 4, 1, tiffDataOff(n3).toLong), (279, 4, 1, 4L)), px16)
    val (_, _, _, l16) = MediaJob.decodeTiffLuma(tiff16).get
    assert(l16(0) == 0x12.toFloat && l16(1) == 0xff.toFloat)
  }

  test("TIFF decode: PackBits and LZW-with-predictor round-trips") {
    val w = 16; val h = 8
    // a horizontal gradient compresses well under differencing
    val px = Array.tabulate[Byte](w * h)(k => ((k % w) * 12 + k / w).toByte)
    val n = 8
    def entriesFor(comp: Int, dataLen: Int, pred: Int) = Seq(
      (256, 3, 1, w.toLong), (257, 3, 1, h.toLong), (258, 3, 1, 8L),
      (259, 3, 1, comp.toLong), (262, 3, 1, 1L),
      (273, 4, 1, tiffDataOff(n).toLong), (279, 4, 1, dataLen.toLong),
      (317, 3, 1, pred.toLong))
    // PackBits
    val pb = packBitsCompress(px)
    val tiffPb = encodeTiff(le = true, entriesFor(32773, pb.length, 1), pb)
    val (_, _, _, lPb) = MediaJob.decodeTiffLuma(tiffPb).get
    px.zipWithIndex.foreach { case (v, k) =>
      assert(lPb(k) == (v & 0xff).toFloat, s"PackBits px $k")
    }
    // LZW with horizontal differencing: encode the DIFFERENCED rows
    val diffed = px.clone()
    for (r <- 0 until h; x <- (w - 1) to 1 by -1)
      diffed(r * w + x) = (diffed(r * w + x) - diffed(r * w + x - 1)).toByte
    val lzw = tiffLzwCompress(diffed)
    val tiffLz = encodeTiff(le = true, entriesFor(5, lzw.length, 2), lzw)
    val (_, _, _, lLz) = MediaJob.decodeTiffLuma(tiffLz).get
    px.zipWithIndex.foreach { case (v, k) =>
      assert(lLz(k) == (v & 0xff).toFloat, s"LZW px $k")
    }
    // LZW dictionary stress: noise forces width growth + mid-stream clear
    val rng = new scala.util.Random(0x71ff)
    val big = Array.fill[Byte](96 * 96)(rng.nextInt(256).toByte)
    val lzwBig = tiffLzwCompress(big)
    val tiffBig = encodeTiff(le = true, Seq(
      (256, 3, 1, 96L), (257, 3, 1, 96L), (258, 3, 1, 8L),
      (259, 3, 1, 5L), (262, 3, 1, 1L),
      (273, 4, 1, tiffDataOff(7).toLong), (279, 4, 1, lzwBig.length.toLong)),
      lzwBig)
    val (_, _, _, lBig) = MediaJob.decodeTiffLuma(tiffBig).get
    big.zipWithIndex.foreach { case (v, k) =>
      assert(lBig(k) == (v & 0xff).toFloat, s"LZW-stress px $k")
    }
  }

  test("TIFF/WebP probes: tiled fallback, WebP geometry, dispatch, crafted safety") {
    // tiled TIFF (tag 322) rejects pixel decode but probes geometry
    val tiled = encodeTiff(le = true, Seq(
      (256, 3, 1, 64L), (257, 3, 1, 32L), (322, 3, 1, 16L),
      (323, 3, 1, 16L)), Array.empty[Byte])
    assert(MediaJob.decodeTiffLuma(tiled).isEmpty)
    assert(MediaJob.probeHeader("image", tiled) == Some((64, 32, 1)))
    // decodeStub rides the real TIFF decode
    val w = 4; val h = 4
    val px = Array.tabulate[Byte](w * h)(k => (k * 16).toByte)
    val tiff = encodeTiff(le = true, Seq(
      (256, 3, 1, w.toLong), (257, 3, 1, h.toLong), (258, 3, 1, 8L),
      (259, 3, 1, 1L), (262, 3, 1, 1L),
      (273, 4, 1, tiffDataOff(7).toLong), (279, 4, 1, px.length.toLong)), px)
    val (sw, sh, _, feat) = MediaJob.decodeStub("image", tiff)
    assert((sw, sh) == (w, h) && feat.length == 16)
    for (cut <- Seq(3, 9, 20, 40, tiff.length - 3))
      MediaJob.decodeTiffLuma(tiff.take(cut)) // never throws
    // WebP: VP8 lossy key frame geometry
    def rle32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val vp8 = "RIFF".getBytes ++ rle32(40) ++ "WEBP".getBytes ++
      "VP8 ".getBytes ++ rle32(20) ++
      Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a) ++
      Array[Byte](64, 1, 0xc8.toByte, 0) ++ Array.fill[Byte](10)(0) // 320x200
    assert(MediaJob.probeHeader("image", vp8) == Some((320, 200, 3)))
    // VP8L lossless: 14-bit (w-1, h-1) packed after 0x2F
    val dims = (299) | (149 << 14) // 300x150
    val vp8l = "RIFF".getBytes ++ rle32(20) ++ "WEBP".getBytes ++
      "VP8L".getBytes ++ rle32(12) ++
      Array[Byte](0x2f, dims.toByte, (dims >> 8).toByte, (dims >> 16).toByte,
        (dims >> 24).toByte) ++ Array.fill[Byte](8)(0)
    assert(MediaJob.probeHeader("image", vp8l) == Some((300, 150, 3)))
    // VP8X extended: 24-bit canvas dims
    val vp8x = "RIFF".getBytes ++ rle32(30) ++ "WEBP".getBytes ++
      "VP8X".getBytes ++ rle32(10) ++
      Array[Byte](0, 0, 0, 0) ++
      Array[Byte](0xff.toByte, 1, 0) ++ // w-1 = 511
      Array[Byte](0x7f, 0, 0) ++ Array.fill[Byte](6)(0) // h-1 = 127
    assert(MediaJob.probeHeader("image", vp8x) == Some((512, 128, 3)))
  }

  test("TIFF decode: a strip count the file cannot hold is rejected before it sizes an array") {
    val px = Array.tabulate[Byte](16)(k => (k * 16).toByte)
    def tiff(tag: Int, count: Int) = encodeTiff(le = true, Seq(
      (256, 3, 1, 4L), (257, 3, 1, 4L), (258, 3, 1, 8L), (259, 3, 1, 1L),
      (262, 3, 1, 1L), (273, 4, if (tag == 273) count else 1, tiffDataOff(7).toLong),
      (279, 4, if (tag == 279) count else 1, px.length.toLong)), px)
    assert(MediaJob.decodeTiffLuma(tiff(273, 1)).isDefined)
    // 2^31-1, 2^32-1 (written as Int -1) and 2^28 strips, and 5 — one
    // more than the 16 bytes after the offset can hold
    for (tag <- Seq(273, 279); count <- Seq(Int.MaxValue, -1, 1 << 28, 5)) {
      val crafted = tiff(tag, count)
      assert(MediaJob.decodeTiffLuma(crafted).isEmpty, s"tag $tag count $count")
      assert(MediaJob.probeHeader("image", crafted) == Some((4, 4, 1)))
      val (d1, d2, d3, feat) = MediaJob.decodeStub("image", crafted)
      assert((d1, d2, d3) == (4, 4, 1) && feat.length == 16)
    }
  }

  test("mutation fuzz: corrupted valid containers never throw and always yield a 16-dim finite feature") {
    // The highest-yield fuzz seeds are VALID files: random byte flips,
    // truncations, length-field splices and garbage tails reach the deep
    // decode paths (inflate, Huffman, chunk walks) that pure-garbage
    // inputs bounce off at the signature check. Every byte walk in
    // MediaJob must degrade to a lower tier — never crash the task: one
    // uncaught decode exception on one crafted record kills the whole job
    // after retries (the failure class ADVICE flagged on the WAV walk).
    val rng = new scala.util.Random(987654321L)

    // one valid artifact per container family, via the independent
    // test-side encoders used elsewhere in this spec
    val pngRaw = Array.tabulate(8 * 9)(i => // 8 rows of filter byte + 8 px
      if (i % 9 == 0) 0 else ((i * 37) % 256)).map(_.toByte)
    val png = encodePng(8, 8, 0, pngRaw)
    val jq = Array.tabulate(64)(k => 1 + k / 8)
    val jpx = Array.tabulate(24 * 16)(i => (i * 7) % 256)
    val jpeg = encodeGrayJpeg(24, 16, jpx, jq)._1
    val avi = encodeAvi(24, 16, Seq(jpeg, jpeg))
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val wavData = Array.tabulate(320)(i => (i * 13 % 256).toByte)
    val wav = "RIFF".getBytes ++ le32(36 + wavData.length) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++
      (le16(1) ++ le16(1) ++ le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16)) ++
      "data".getBytes ++ le32(wavData.length) ++ wavData

    val mp4 = encodeMp4(mp4Trak(24, 16, 12, "vide"))
    val mkv = encodeMkv(
      mkvTrackEntry(1, 1, 24, 16),
      ebmlEl(0x1F43B675L, mkvSimpleBlock(1) ++ mkvSimpleBlock(1)))
    // a VALID Adam7-interlaced 16-bit PNG (per-pass raw layout) reaches
    // the pass-geometry and wide-sample branches of the decoder
    val rawI16 = new scala.collection.mutable.ArrayBuffer[Byte]()
    for ((x0, y0, dx, dy) <- Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
           (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2));
         y <- y0 until 8 by dy) {
      rawI16 += 0
      for (x <- x0 until 8 by dx) {
        rawI16 += ((x * 31 + y * 53) % 256).toByte; rawI16 += ((x + y) % 256).toByte
      }
    }
    val pngI16 = encodePng(8, 8, 0, rawI16.toArray, bitDepth = 16, interlace = 1)
    // a successive-approximation progressive JPEG reaches the multi-scan
    // accumulation and refinement branches
    val jpegProg = encodeGrayProgressiveJpeg(24, 16, jpx, jq,
      Seq((0, 0, 0, 1), (1, 63, 0, 1), (0, 0, 1, 0), (1, 63, 1, 0)))
    // an IMA-ADPCM WAV reaches the block-structured nibble decode
    val adpcmData = wavLe16(0) ++ Array[Byte](0, 0) ++
      Array.tabulate[Byte](16)(i => ((i * 0x93) & 0xff).toByte)
    val adpcm = wavFile(0x11, 1, 8000, 4, 20, adpcmData)
    // an animated transparent GIF reaches the LZW, compositing and
    // sub-block walk branches
    val gifCt = Array.tabulate[Byte](16 * 3)(i => ((i / 3) * 16).toByte)
    val gifIdx = Array.tabulate(64)(k => k % 16)
    val gif = encodeGif(8, 8, gifCt, 0,
      Seq(GifFrame(0, 0, 8, 8, gifIdx),
        GifFrame(2, 2, 4, 4, Array.tabulate(16)(_ % 16), transparent = 3)))
    // an RLE8 BMP reaches the escape-code walk and palette branches
    val bmpPal = Array.tabulate[Byte](256 * 4)(i =>
      (if (i % 4 == 3) 0 else i / 4).toByte)
    val bmp = encodeBmp(6, 2, 8, Array[Byte](3, 200.toByte, 0, 3, 9, 77,
      130.toByte, 0, 0, 0, 6, 50, 0, 1), bmpPal, comp = 1)
    // an MP3 frame chain and an Ogg-Vorbis stream reach the audio
    // metadata walks
    val mp3f = mp3Frame(3, 1, 9, 0, 0, 0, 128, 44100, 1152)
    val mp3 = Array.concat(mp3f, mp3f, mp3f)
    val oggV = oggPage(0, 7, 0,
      Array[Byte](1) ++ "vorbis".getBytes ++ Array[Byte](0, 0, 0, 0, 2) ++
        Array[Byte](0x44, 0xac.toByte, 0, 0) ++ Array.fill[Byte](9)(0),
      headerType = 2) ++
      oggPage(88200, 7, 1, Array.fill[Byte](60)(0x11), headerType = 4)
    // a rice-coded fixed-predictor FLAC reaches the bit-level subframe
    // and residual walks
    val flacX = Array.tabulate(64)(k => (math.sin(k * 0.2) * 8000).toInt)
    val flacResid = Array.tabulate(64)(k =>
      if (k < 2) 0 else flacX(k) - 2 * flacX(k - 1) + flacX(k - 2))
    val flac = flacStreamInfo(8000, 1, 16, 64) ++
      flacFrame(0, 64, 16, 0, { w =>
        w.write(0, 1); w.write(10, 6); w.write(0, 1)
        w.write(flacX(0) & 0xffff, 16); w.write(flacX(1) & 0xffff, 16)
        flacWriteRice(w, flacResid.drop(2), 64, 2, 2, 6)
      })
    // an LZW+predictor TIFF and a VP8 WebP reach the IFD/LZW and RIFF
    // geometry walks
    val tpx = Array.tabulate[Byte](8 * 8)(k => ((k % 8) * 9 + k / 8).toByte)
    val tdiff = tpx.clone()
    for (r <- 0 until 8; x <- 7 to 1 by -1)
      tdiff(r * 8 + x) = (tdiff(r * 8 + x) - tdiff(r * 8 + x - 1)).toByte
    val tlzw = tiffLzwCompress(tdiff)
    val tiffSeed = encodeTiff(le = true, Seq(
      (256, 3, 1, 8L), (257, 3, 1, 8L), (258, 3, 1, 8L),
      (259, 3, 1, 5L), (262, 3, 1, 1L),
      (273, 4, 1, tiffDataOff(8).toLong), (279, 4, 1, tlzw.length.toLong),
      (317, 3, 1, 2L)), tlzw)
    def rle32f(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val webpSeed = "RIFF".getBytes ++ rle32f(40) ++ "WEBP".getBytes ++
      "VP8 ".getBytes ++ rle32f(20) ++
      Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a) ++
      Array[Byte](64, 1, 0xc8.toByte, 0) ++ Array.fill[Byte](10)(0)
    val seeds = Seq("image" -> png, "image" -> pngI16, "image" -> jpeg,
      "image" -> jpegProg, "image" -> gif, "image" -> bmp,
      "image" -> tiffSeed, "image" -> webpSeed, "video" -> avi,
      "video" -> mp4, "video" -> mkv, "audio" -> wav, "audio" -> adpcm,
      "audio" -> mp3, "audio" -> oggV, "audio" -> flac)
    def mutate(b: Array[Byte]): Array[Byte] = rng.nextInt(4) match {
      case 0 if b.nonEmpty => // flip 1-8 random bytes
        val m = b.clone()
        (0 until 1 + rng.nextInt(8)).foreach { _ =>
          val i = rng.nextInt(m.length); m(i) = (m(i) ^ (1 << rng.nextInt(8))).toByte
        }
        m
      case 1 => b.take(rng.nextInt(b.length + 1)) // truncate anywhere
      case 2 if b.length >= 4 => // splice a random 4-byte window (corrupts length fields)
        val m = b.clone()
        val i = rng.nextInt(m.length - 3)
        (0 until 4).foreach(k => m(i + k) = rng.nextInt(256).toByte)
        m
      case _ => b ++ Array.fill(1 + rng.nextInt(64))(rng.nextInt(256).toByte)
    }

    for ((mType, valid) <- seeds; round <- 0 until 300) {
      // stack 1-3 mutations so corruption compounds
      var m = mutate(valid)
      (0 until rng.nextInt(3)).foreach(_ => if (m.nonEmpty) m = mutate(m))
      val (d1, d2, d3, feat) =
        try MediaJob.decodeStub(mType, m)
        catch { case e: Throwable =>
          fail(s"decodeStub threw on mutated $mType (round $round, ${m.length} bytes): $e")
        }
      assert(feat != null && feat.length == 16,
        s"$mType round $round: feature must stay 16-dim")
      assert(feat.forall(v => !v.isNaN && !v.isInfinite),
        s"$mType round $round: feature must stay finite")
      assert(d1 >= 0 && d2 >= 0 && d3 >= 0,
        s"$mType round $round: dims must stay non-negative ($d1,$d2,$d3)")
    }
  }

  test("crafted declared frame counts cannot explode the sampling fan-out") {
    import spark.implicits._
    // header-only AVI declaring Int.MaxValue frames, zero real frames
    val bomb = encodeAvi(16, 16, Seq.empty, declared = Int.MaxValue)
    val (_, _, d3, _) = MediaJob.decodeStub("video", bomb)
    assert(d3 == Int.MaxValue, "declared count is reported as metadata")
    val media = Seq(("m/bomb", "d1", "video", bomb))
      .toDF("media_ref", "doc_id", "media_type", "bytes")
    val viaDecoded = MediaJob.sampleFramesDecoded(spark, media, everyNth = 6).count()
    assert(viaDecoded <= MediaJob.maxSampledFrames,
      s"fallback fan-out must be capped, got $viaDecoded rows")
    val feats = MediaJob.extractFeatures(spark, media)
    val viaStub = MediaJob.sampleFrames(spark, feats, everyNth = 6).count()
    assert(viaStub <= MediaJob.maxSampledFrames,
      s"stub fan-out must be capped, got $viaStub rows")
    assert(viaDecoded > 0 && viaStub > 0, "capped sampling still emits rows")
  }
}
