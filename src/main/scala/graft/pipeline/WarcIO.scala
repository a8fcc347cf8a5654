package graft.pipeline

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.Locale
import java.util.zip.{GZIPOutputStream, Inflater}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One parsed WARC record, projected to the fields a corpus pipeline
  * consumes. `text` is decoded only for text-typed payloads; media/binary
  * payload bytes stay where they were parsed (scan stage) and are never
  * carried into shuffles — only this typed projection moves. */
final case class WarcRec(
    record_type: String,
    target_uri: String,
    warc_date: String,
    http_status: Option[Int],
    content_type: String,
    charset: String,
    n_bytes: Int,
    text: String)

/** WARC (ISO 28500) web-archive egress and ingest — the container format
  * web-scale text corpora actually arrive in (Common Crawl publishes each
  * crawl as ~1 GB `.warc.gz` files holding one gzip member PER RECORD,
  * which is the property that makes the format record-splittable and thus
  * cheaply parallelizable without an index).
  *
  * Everything here is from the public specs: ISO 28500 / the IIPC WARC 1.1
  * draft (record grammar), RFC 1952 (gzip framing), RFC 9112 (HTTP/1.1
  * message framing incl. chunked transfer coding). No external library —
  * deflate itself is `java.util.zip.Inflater`, as in the media decoders.
  *
  * Shape at 100 TB:
  *  - one WARC file = one input task (`spark.read.format("binaryFile")` or
  *    a binary-blob table); members decode SEQUENTIALLY inside the task —
  *    gzip is not splittable mid-member, so parallelism comes from file
  *    count (a Common Crawl snapshot is ~80k files — far more than the
  *    executor count);
  *  - parsing happens in the scan stage; only the typed [[WarcRec]]
  *    projection (status/uri/text, not raw archive bytes) enters the plan,
  *    so downstream filters prune before any shuffle;
  *  - all length fields (gzip XLEN, WARC Content-Length, HTTP
  *    Content-Length, chunk sizes) are parsed into Long and bounds-checked
  *    against the buffer BEFORE any allocation or cursor move — the same
  *    crafted-length discipline as the media byte walks — and inflated
  *    output is capped per member, so a gzip bomb costs one bounded
  *    allocation, not an executor;
  *  - any malformed tail (truncation, bit rot, bad deflate stream) yields
  *    the records decoded so far — prefix semantics, never a thrown task.
  */
object WarcIO {

  /** Fixed date for deterministic egress (WARC-Date is mandatory). */
  val FixedDate = "2026-01-01T00:00:00Z"

  // ===================================================== gzip (RFC 1952)

  /** Compress `raw` as ONE gzip member. `GZIPOutputStream` writes zeroed
    * MTIME/XFL/OS header fields, so output is deterministic per input. */
  def gzipMember(raw: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(raw.length / 2 + 64)
    val gz = new GZIPOutputStream(bos)
    gz.write(raw)
    gz.close()
    bos.toByteArray
  }

  private def u16le(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  /** Lazily inflate the gzip members of a multi-member stream. Returns each
    * member's inflated bytes; stops (never throws) at the first malformed
    * header, bad deflate stream, or truncation. Per-member output is capped
    * at `memberCap` bytes (bomb guard); a capped member is truncated, and
    * iteration stops there because the member's true extent is unknown. */
  def gunzipMembers(b: Array[Byte], memberCap: Int = 64 << 20): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private var i = 0
      private var nextM: Array[Byte] = null
      private var done = false

      private def headerEnd(): Int = {
        // RFC 1952 fixed header: magic 1f 8b, CM=8 (deflate), FLG, MTIME(4),
        // XFL, OS. Optional fields follow per FLG bits.
        if (i + 10 > b.length || (b(i) & 0xff) != 0x1f ||
            (b(i + 1) & 0xff) != 0x8b || b(i + 2) != 8) return -1
        val flg = b(i + 3) & 0xff
        var p = i + 10
        if ((flg & 4) != 0) { // FEXTRA
          if (p + 2 > b.length) return -1
          val xlen = u16le(b, p)
          if (p.toLong + 2 + xlen > b.length) return -1
          p += 2 + xlen
        }
        if ((flg & 8) != 0) { // FNAME, NUL-terminated
          while (p < b.length && b(p) != 0) p += 1
          if (p >= b.length) return -1
          p += 1
        }
        if ((flg & 16) != 0) { // FCOMMENT
          while (p < b.length && b(p) != 0) p += 1
          if (p >= b.length) return -1
          p += 1
        }
        if ((flg & 2) != 0) { // FHCRC
          if (p + 2 > b.length) return -1
          p += 2
        }
        p
      }

      private def advance(): Unit = {
        nextM = null
        if (done || i >= b.length) { done = true; return }
        val he = headerEnd()
        if (he < 0) { done = true; return }
        val inf = new Inflater(true)
        try {
          inf.setInput(b, he, b.length - he)
          val out = new ByteArrayOutputStream(math.min(memberCap, 1 << 16))
          val buf = new Array[Byte](1 << 16)
          var stalled = false
          while (!inf.finished() && !stalled && out.size() < memberCap) {
            val n = inf.inflate(buf)
            if (n > 0) out.write(buf, 0, math.min(n, memberCap - out.size()))
            else stalled = true // needs more input == truncated stream
          }
          nextM = out.toByteArray
          if (inf.finished()) {
            // member extent = header + compressed data + 8-byte trailer
            // (CRC32+ISIZE — walked, not verified: on untrusted input a bad
            // CRC is handled the same as truncation, by the record parser's
            // own prefix semantics). Arithmetic in Long against crafted
            // streams.
            val end = he.toLong + inf.getBytesRead + 8
            if (end > b.length) { i = b.length; done = true }
            else i = end.toInt
          } else { i = b.length; done = true } // truncated/capped: emit, stop
        } catch {
          case _: Exception => done = true // bad deflate stream: stop cleanly
        } finally inf.end()
      }

      def hasNext: Boolean = {
        if (nextM == null && !done) advance()
        nextM != null
      }
      def next(): Array[Byte] = {
        if (!hasNext) throw new NoSuchElementException("gunzipMembers")
        val m = nextM; nextM = null; m
      }
    }

  private def isGzip(b: Array[Byte]): Boolean =
    b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b

  // =================================================== WARC record egress

  private val Ascii = StandardCharsets.ISO_8859_1

  /** Deterministic RFC 4122-shaped record id derived from the record's own
    * identity fields (the spec requires globally-unique ids; a content hash
    * is the reproducible choice for deterministic egress). */
  def recordId(recordType: String, uri: String, date: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$recordType|$uri|$date".getBytes(StandardCharsets.UTF_8))
      .map(x => "%02x".formatLocal(Locale.ROOT, x & 0xff)).mkString
    s"<urn:uuid:${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-" +
      s"${h.substring(16, 20)}-${h.substring(20, 32)}>"
  }

  /** One WARC/1.0 record: header block, mandatory Content-Length, blank
    * line, content block, and the spec's two-CRLF record trailer. */
  def record(recordType: String, uri: String, date: String,
             blockType: String, block: Array[Byte]): Array[Byte] = {
    val h = new StringBuilder(256)
    h.append("WARC/1.0\r\n")
    h.append("WARC-Type: ").append(recordType).append("\r\n")
    if (uri != null) h.append("WARC-Target-URI: ").append(uri).append("\r\n")
    h.append("WARC-Date: ").append(date).append("\r\n")
    h.append("WARC-Record-ID: ").append(recordId(recordType, uri, date)).append("\r\n")
    h.append("Content-Type: ").append(blockType).append("\r\n")
    h.append("Content-Length: ").append(block.length).append("\r\n\r\n")
    val head = h.toString.getBytes(Ascii)
    val out = new Array[Byte](head.length + block.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(block, 0, out, head.length, block.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** `warcinfo` header record (leads every WARC file per the spec). */
  def warcinfoRecord(filename: String, date: String): Array[Byte] = {
    val fields = s"software: graft\r\nformat: WARC File Format 1.0\r\nfilename: $filename\r\n"
    record("warcinfo", null, date, "application/warc-fields",
      fields.getBytes(StandardCharsets.UTF_8))
  }

  /** Minimal captured HTTP request block (Common Crawl interleaves a
    * `request` record before each `response`; readers must skip it). */
  def requestRecord(uri: String, date: String): Array[Byte] = {
    val path = uri.replaceFirst("^[a-z]+://[^/]*", "") match {
      case "" => "/"; case p => p
    }
    val host = uri.replaceFirst("^[a-z]+://", "").takeWhile(_ != '/')
    val http = s"GET $path HTTP/1.1\r\nHost: $host\r\nAccept: */*\r\n\r\n"
    record("request", uri, date, "application/http; msgtype=request",
      http.getBytes(Ascii))
  }

  /** HTTP/1.1 response message: status line + headers + entity, with either
    * Content-Length framing or chunked transfer coding (`chunkSize` data
    * bytes per chunk; the first chunk carries a chunk extension, which
    * readers must ignore per RFC 9112 §7.1.1). */
  def httpResponse(entity: Array[Byte], mime: String, charset: String,
                   chunked: Boolean, status: Int = 200,
                   chunkSize: Int = 211): Array[Byte] = {
    val reason = if (status == 200) "OK" else "Status"
    val h = new StringBuilder(192)
    h.append("HTTP/1.1 ").append(status).append(' ').append(reason).append("\r\n")
    h.append("Server: graft/1.0\r\n")
    h.append("Content-Type: ").append(mime)
    if (charset != null) h.append("; charset=").append(charset)
    h.append("\r\n")
    if (chunked) h.append("Transfer-Encoding: chunked\r\n\r\n")
    else h.append("Content-Length: ").append(entity.length).append("\r\n\r\n")
    val head = h.toString.getBytes(Ascii)
    val body = if (!chunked) entity else {
      val out = new ByteArrayOutputStream(entity.length + 64)
      var off = 0
      var first = true
      while (off < entity.length) {
        val n = math.min(chunkSize, entity.length - off)
        val ext = if (first) ";graft=1" else ""
        out.write(s"${n.toHexString}$ext\r\n".getBytes(Ascii))
        out.write(entity, off, n)
        out.write('\r'); out.write('\n')
        off += n
        first = false
      }
      out.write("0\r\n\r\n".getBytes(Ascii))
      out.toByteArray
    }
    val out = new Array[Byte](head.length + body.length)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(body, 0, out, head.length, body.length)
    out
  }

  /** A captured `response` record wrapping an HTTP message. */
  def responseRecord(uri: String, date: String, http: Array[Byte]): Array[Byte] =
    record("response", uri, date, "application/http; msgtype=response", http)

  // =================================================== WARC record ingest

  /** Parse a WARC file's bytes — gzipped (member-per-record or any member
    * grouping) or plain — into typed records, lazily, with prefix semantics
    * on any malformed input. */
  def readRecords(bytes: Array[Byte], memberCap: Int = 64 << 20): Iterator[WarcRec] =
    if (isGzip(bytes)) gunzipMembers(bytes, memberCap).flatMap(parsePlain)
    else parsePlain(bytes)

  /** Sequential records in an uncompressed WARC buffer. */
  private def parsePlain(b: Array[Byte]): Iterator[WarcRec] =
    new Iterator[WarcRec] {
      private var i = 0
      private var nextR: WarcRec = null
      private var done = false

      private def advance(): Unit = {
        nextR = null
        if (done) return
        try {
          parseRecord(b, i) match {
            case Some((rec, nxt)) => nextR = rec; i = nxt
            case None => done = true
          }
        } catch { case _: Exception => done = true }
      }
      def hasNext: Boolean = {
        if (nextR == null && !done) advance()
        nextR != null
      }
      def next(): WarcRec = {
        if (!hasNext) throw new NoSuchElementException("readRecords")
        val r = nextR; nextR = null; r
      }
    }

  /** One CRLF- (or bare-LF-) terminated line from `from`; returns
    * (line, indexAfterTerminator), or null line if no terminator remains. */
  private def line(b: Array[Byte], from: Int): (String, Int) = {
    var p = from
    while (p < b.length && b(p) != '\n') p += 1
    if (p >= b.length) return (null, b.length)
    val end = if (p > from && b(p - 1) == '\r') p - 1 else p
    (new String(b, from, end - from, Ascii), p + 1)
  }

  private def parseRecord(b: Array[Byte], at: Int): Option[(WarcRec, Int)] = {
    var i = at
    // tolerate stray CRLF padding between records
    while (i < b.length && (b(i) == '\r' || b(i) == '\n')) i += 1
    if (i >= b.length) return None
    val (ver, afterVer) = line(b, i)
    if (ver == null || !ver.startsWith("WARC/")) return None
    i = afterVer
    val headers = scala.collection.mutable.Map.empty[String, String]
    var blank = false
    while (!blank) {
      val (l, nxt) = line(b, i)
      if (l == null) return None // truncated header block
      i = nxt
      if (l.isEmpty) blank = true
      else {
        val c = l.indexOf(':')
        if (c > 0) headers(l.substring(0, c).trim.toLowerCase(Locale.ROOT)) = l.substring(c + 1).trim
      }
    }
    // Content-Length is mandatory; crafted values are clamped to the
    // remaining buffer in Long before any slice (prefix semantics).
    val declared = headers.get("content-length").flatMap(v =>
      try Some(v.toLong) catch { case _: Exception => None }).getOrElse(-1L)
    if (declared < 0) return None
    val avail = (b.length - i).toLong
    val len = math.min(declared, avail).toInt
    val block = java.util.Arrays.copyOfRange(b, i, i + len)
    var nxt = i + len
    while (nxt < b.length && (b(nxt) == '\r' || b(nxt) == '\n')) nxt += 1
    Some((interpret(headers, block), nxt))
  }

  /** Split `type; p=v` into (primary type lowercased, charset param). */
  private def mimeOf(ct: String): (String, String) = {
    if (ct == null) return (null, null)
    val parts = ct.split(";")
    val primary = parts(0).trim.toLowerCase(Locale.ROOT)
    val cs = parts.iterator.drop(1).map(_.trim)
      .find(_.toLowerCase(Locale.ROOT).startsWith("charset="))
      .map(_.substring(8).trim.stripPrefix("\"").stripSuffix("\"").toLowerCase(Locale.ROOT))
      .orNull
    (primary, cs)
  }

  private def interpret(h: scala.collection.mutable.Map[String, String],
                        block: Array[Byte]): WarcRec = {
    val rtype = h.getOrElse("warc-type", "unknown").toLowerCase(Locale.ROOT)
    val uri = h.get("warc-target-uri").orNull
    val date = h.get("warc-date").orNull
    val (blockType, blockCs) = mimeOf(h.get("content-type").orNull)
    if (blockType != null && blockType.startsWith("application/http")) {
      val (status, mime, cs, entity) = parseHttp(block)
      val text = decodeIfText(mime, cs, entity)
      WarcRec(rtype, uri, date, status, mime, cs, if (entity == null) 0 else entity.length, text)
    } else if (rtype == "resource" || rtype == "conversion") {
      val text = decodeIfText(blockType, blockCs, block)
      WarcRec(rtype, uri, date, None, blockType, blockCs, block.length, text)
    } else {
      WarcRec(rtype, uri, date, None, blockType, blockCs, block.length, null)
    }
  }

  /** HTTP/1.1 response framing: status line, headers, entity under
    * Content-Length or chunked transfer coding (RFC 9112 §6-7). Returns
    * (status, primary mime, charset, entity bytes); any malformation
    * degrades to the bytes framed so far. */
  private def parseHttp(b: Array[Byte]): (Option[Int], String, String, Array[Byte]) = {
    val (status0, afterStatus) = line(b, 0)
    if (status0 == null || !status0.toUpperCase(Locale.ROOT).startsWith("HTTP/"))
      return (None, "application/octet-stream", null, b)
    val status = status0.split("\\s+") match {
      case a if a.length >= 2 =>
        try Some(a(1).toInt) catch { case _: Exception => None }
      case _ => None
    }
    var i = afterStatus
    var ct: String = null
    var cl = -1L
    var chunked = false
    var blank = false
    while (!blank) {
      val (l, nxt) = line(b, i)
      if (l == null) return (status, "application/octet-stream", null, Array.emptyByteArray)
      i = nxt
      if (l.isEmpty) blank = true
      else {
        val c = l.indexOf(':')
        if (c > 0) {
          val k = l.substring(0, c).trim.toLowerCase(Locale.ROOT)
          val v = l.substring(c + 1).trim
          k match {
            case "content-type" => ct = v
            case "content-length" =>
              cl = try v.toLong catch { case _: Exception => -1L }
            case "transfer-encoding" =>
              chunked = chunked || v.toLowerCase(Locale.ROOT).contains("chunked")
            case _ =>
          }
        }
      }
    }
    val entity =
      if (chunked) dechunk(b, i)
      else if (cl >= 0) {
        val len = math.min(cl, (b.length - i).toLong).toInt
        java.util.Arrays.copyOfRange(b, i, i + len)
      } else java.util.Arrays.copyOfRange(b, i, b.length)
    val (mime, cs) = mimeOf(ct)
    (status, if (mime == null) "application/octet-stream" else mime, cs, entity)
  }

  /** Chunked transfer decoding: hex size line (chunk extensions after `;`
    * ignored), data, CRLF, repeated; `0` terminates. Sizes parse into Long
    * and clamp to the remaining buffer; malformation yields the chunks
    * assembled so far. */
  private def dechunk(b: Array[Byte], from: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(math.min(b.length - from + 16, 1 << 16))
    var i = from
    var doneAll = false
    while (!doneAll) {
      val (l, nxt) = line(b, i)
      if (l == null) doneAll = true
      else {
        val sizeStr = l.split(";")(0).trim
        val sz =
          try java.lang.Long.parseLong(sizeStr, 16)
          catch { case _: Exception => -1L }
        if (sz <= 0) doneAll = true // 0 == terminator; malformed == stop
        else {
          i = nxt
          val n = math.min(sz, (b.length - i).toLong).toInt
          out.write(b, i, n)
          i += n
          if (n < sz) doneAll = true // truncated chunk: prefix out
          else {
            // consume the CRLF after the chunk data
            if (i + 1 < b.length && b(i) == '\r' && b(i + 1) == '\n') i += 2
            else if (i < b.length && b(i) == '\n') i += 1
          }
        }
      }
    }
    out.toByteArray
  }

  /** Decode text-typed (`text/...`) payloads through [[CharsetOps]]: the
    * declared charset is trusted only when the bytes are consistent with
    * it (a `utf-8` label over invalid UTF-8 — the server lied — falls
    * back to the byte sniff), a missing label is sniffed (BOM / strict
    * UTF-8 / windows-1252 fallback), and unknown labels take the WHATWG
    * windows-1252 fallback. Total — never a thrown task, and no U+FFFD
    * replacement on the labeled-wrong path a real crawl hits daily.
    * Non-text payloads return null. */
  private def decodeIfText(mime: String, charset: String,
                           entity: Array[Byte]): String = {
    if (mime == null || !mime.startsWith("text/") || entity == null) return null
    CharsetOps.decodeWithHeader(entity, charset)
  }
}

/** Distributed WARC wiring over the corpus tables. */
object WarcJob {
  import WarcIO._

  /** Deterministic target URI per corpus doc — the same string is
    * renderable in the DuckDB oracle, so the parsed ingest side is
    * hash-checkable end-to-end. */
  def uriFor(source: String, lang: String, docId: Long): String =
    s"https://$source.example.org/$lang/$docId"

  /** Egress (the sink): encode each documents partition as ONE
    * `.warc.gz` shard — warcinfo record first, then a request+response
    * pair per doc, one gzip member per record (the Common Crawl layout).
    * Charset and transfer coding vary deterministically by doc_id so the
    * ingest side's decoder paths are all exercised: `doc_id % 5 == 0`
    * writes UTF-16 (BOM) entities, `doc_id % 3 == 0` writes chunked
    * transfer coding. Runs in the scan stage; archive bytes never
    * shuffle. Returns (shard_name, warc_gz_bytes). */
  def encodePartitions(docs: DataFrame): Dataset[(String, Array[Byte])] = {
    val spark = docs.sparkSession
    import spark.implicits._
    ScanParallelism.ensure(docs)
      .select(col("doc_id").cast("long"), col("text"), col("lang"), col("source"))
      .as[(Long, String, String, String)]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val shard = "graft-crawl-%05d.warc.gz".formatLocal(Locale.ROOT, pid)
          val out = new ByteArrayOutputStream(1 << 16)
          out.write(gzipMember(warcinfoRecord(shard, FixedDate)))
          it.foreach { case (id, text, lang, source) =>
            val uri = uriFor(source, lang, id)
            val charset = if (id % 5 == 0) "utf-16" else "utf-8"
            val chunked = id % 3 == 0
            val entity = (if (text == null) "" else text).getBytes(charset)
            out.write(gzipMember(requestRecord(uri, FixedDate)))
            out.write(gzipMember(responseRecord(uri, FixedDate,
              httpResponse(entity, "text/plain", charset, chunked))))
          }
          Iterator.single((shard, out.toByteArray))
        }
      }
  }

  /** Ingest (the source): parse WARC shard bytes into typed records. The
    * per-shard iterator is lazy, so records stream through the scan stage
    * without materializing a shard's full record list. */
  def decodeShards(shards: Dataset[(String, Array[Byte])]): Dataset[WarcRec] = {
    val spark = shards.sparkSession
    import spark.implicits._
    shards.flatMap { case (_, bytes) => readRecords(bytes) }
  }

  /** Ingest from `.warc.gz` files on disk via the binaryFile source — the
    * 100-TB read path (one file per task; Common Crawl ships ~80k files
    * per snapshot, so file count ≫ executor count and the scan saturates
    * the cluster without any splitting inside a member). */
  def readWarcFiles(spark: SparkSession, dir: String): Dataset[WarcRec] = {
    import spark.implicits._
    decodeShards(
      spark.read.format("binaryFile").load(dir)
        .select(col("path"), col("content")).as[(String, Array[Byte])])
  }

  /** Round trip: documents → per-partition `.warc.gz` shards → parsed
    * records → typed row per response, with doc_id recovered FROM the
    * parsed target URI (proving the ingest side, not carrying the id
    * around the loop). Oracle-checkable: every output column is
    * restatable in SQL over `documents`. */
  def roundTrip(spark: SparkSession, docs: DataFrame): DataFrame = {
    decodeShards(encodePartitions(docs)).toDF()
      .filter(col("record_type") === "response")
      .select(
        element_at(split(col("target_uri"), "/"), -1).cast("long").as("doc_id"),
        col("target_uri").as("url"),
        col("http_status").as("status"),
        col("content_type"),
        col("charset"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("doc_id"))
  }
}
