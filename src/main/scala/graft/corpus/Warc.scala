package graft.corpus

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.PageRow

/** WARC/1.0 ingestion — the wire format Common-Crawl pages actually arrive
  * in (ISO 28500, public spec; the reference's corpus loaders read image
  * folders and label files, ppocr/data/simple_dataset.py:28-41 — a web-scale
  * engine's analog input is the crawl archive itself).
  *
  * A WARC file is a concatenation of records; each record is a header block
  * (`WARC/1.0` version line + `Name: value` lines, CRLF, blank-line
  * terminated) followed by exactly `Content-Length` payload bytes and a
  * CRLF CRLF separator. Response records carry an HTTP message whose body is
  * the page payload; request/warcinfo/metadata records interleave and must
  * be skipped. Common-Crawl serves `.warc.gz` with EACH record as its own
  * gzip member so a reader can seek to a CDX offset and inflate one record.
  *
  * Parser contract:
  *  - framing is by Content-Length only (never by scanning for "WARC/" —
  *    payloads may contain that string);
  *  - header names are case-insensitive; values are trimmed;
  *  - non-response records are skipped; a response's page bytes are the HTTP
  *    body (after the first CRLF CRLF in the block) — charset is NOT decoded
  *    here, the extraction kernel sniffs it from the raw bytes (F10 path);
  *  - a truncated final record (mid-header or short block) is DROPPED, never
  *    thrown on — crawl archives end mid-record when a fetch died;
  *  - multi-member gzip is inflated transparently (JDK GZIPInputStream reads
  *    concatenated members).
  *
  * Scale shape: one task per WARC file via the binaryFile source (a CC crawl
  * is ~64k segment files of ~1 GB — natural parallelism at any cluster
  * size); the parser is record-local and single-pass, so a seekable variant
  * can split ONE file at CDX offsets (each gzip member inflates alone) —
  * the record loop is the same either way. No shuffle: parse is a flatMap;
  * downstream extraction stays in the same stage.
  */
object Warc {

  final case class Record(
      warcType: String,
      targetUri: String,
      date: String,
      block: Array[Byte])

  private val CRLF = "\r\n"
  private val dateFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
      .withZone(ZoneOffset.UTC)

  def formatDate(ts: Timestamp): String = dateFmt.format(ts.toInstant)
  def parseDate(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  // ======================== record serialization =========================

  private def record(headers: Seq[(String, String)], block: Array[Byte]): Array[Byte] = {
    // WARC/1.1: the emitted WARC-Date carries microseconds, which ISO 28500
    // restricts to WARC 1.1 (1.0 is second-granularity only) — declaring
    // 1.0 here would hand a strict validator malformed dates. The reader
    // side is version-agnostic (frames on headers, not the version line).
    val h = new StringBuilder("WARC/1.1").append(CRLF)
    headers.foreach { case (k, v) => h.append(k).append(": ").append(v).append(CRLF) }
    h.append("Content-Length: ").append(block.length).append(CRLF).append(CRLF)
    val head = h.toString.getBytes(StandardCharsets.UTF_8)
    val tail = (CRLF + CRLF).getBytes(StandardCharsets.UTF_8)
    val out = new Array[Byte](head.length + block.length + tail.length)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(block, 0, out, head.length, block.length)
    System.arraycopy(tail, 0, out, head.length + block.length, tail.length)
    out
  }

  /** HTTP response message wrapping page bytes (status + minimal headers —
    * no charset parameter: the extractor's sniffer owns charset detection). */
  private def httpResponse(body: Array[Byte]): Array[Byte] = {
    val head = ("HTTP/1.1 200 OK" + CRLF +
      "Content-Type: text/html" + CRLF +
      "Content-Length: " + body.length + CRLF + CRLF)
      .getBytes(StandardCharsets.UTF_8)
    val out = new Array[Byte](head.length + body.length)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(body, 0, out, head.length, body.length)
    out
  }

  def responseRecord(url: String, date: String, html: Array[Byte]): Array[Byte] =
    record(Seq(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> url,
      "WARC-Date" -> date,
      "Content-Type" -> "application/http; msgtype=response"), httpResponse(html))

  def requestRecord(url: String, date: String): Array[Byte] =
    record(Seq(
      "WARC-Type" -> "request",
      "WARC-Target-URI" -> url,
      "WARC-Date" -> date,
      "Content-Type" -> "application/http; msgtype=request"),
      ("GET / HTTP/1.1" + CRLF + "Host: example" + CRLF + CRLF)
        .getBytes(StandardCharsets.UTF_8))

  def warcinfoRecord(date: String): Array[Byte] =
    record(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Date" -> date,
      "Content-Type" -> "application/warc-fields"),
      ("software: graft-fixtures" + CRLF).getBytes(StandardCharsets.UTF_8))

  private def gzipMember(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(b.length / 2 + 64)
    val gz = new GZIPOutputStream(bos)
    gz.write(b); gz.finish(); gz.close()
    bos.toByteArray
  }

  /** A deterministic crawl-segment fixture over the golden corpus: warcinfo
    * leader, then request+response per page (the CC layout). `gzip` emits
    * per-record gzip members, the seekable CC convention. */
  def sampleFile(seed: Long, n: Int, gzip: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream(1 << 20)
    def emit(rec: Array[Byte]): Unit =
      out.write(if (gzip) gzipMember(rec) else rec)
    val infoDate = formatDate(Corpus.page(seed, 0).row.warc_ts)
    emit(warcinfoRecord(infoDate))
    (0 until n).foreach { i =>
      val p = Corpus.page(seed, i).row
      val d = formatDate(p.warc_ts)
      emit(requestRecord(p.url, d))
      emit(responseRecord(p.url, d, p.html))
    }
    out.toByteArray
  }

  // ============================== parsing ================================

  private def isGzip(b: Array[Byte]): Boolean =
    b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b

  /** Inflate every gzip member (JDK GZIPInputStream walks concatenated
    * members); pass-through for plain WARC. A stream cut or corrupted
    * mid-member yields the bytes inflated BEFORE the damage — the record
    * framing in [[parseRecords]] then drops the partial tail record, so one
    * truncated `.warc.gz` in a 100 TB bucket degrades to a short file
    * instead of throwing and killing the task (same discipline as
    * [[gzipMembers]]). */
  /** Decompression bomb ceilings (the image/video bomb-ceiling discipline):
    * deflate expands up to 1032:1, so a MB-sized hostile payload can demand
    * GBs — and past the 2 GiB array limit the failure is OutOfMemoryError,
    * an Error no catch here contains. No real WARC RECORD inflates past
    * 256 MiB (CC caps bodies ~1 MB). The member walk also bounds WORK, not
    * just memory: past [[MaxInflateWork]] of total expansion the member is
    * abandoned (prefix discipline) — recovering the boundary of a
    * maximal-ratio bomb would otherwise cost ~1 TB of inflate CPU while
    * "only" discarding its output. The whole-FILE cap sits just under the
    * JVM array limit: it is NOT the bomb guard (members are), it turns the
    * otherwise-uncatchable boundary Error into the kept readable prefix —
    * a legitimate segment inflating past 2 GiB cannot use this in-memory
    * API at all (the seekable member walk is the scale path). */
  private val MaxInflatedMember = 1 << 28
  private val MaxInflateWork = 1L << 30
  private val MaxInflatedFile = Integer.MAX_VALUE - (1 << 17)

  def inflate(bytes: Array[Byte]): Array[Byte] =
    if (!isGzip(bytes)) bytes
    else {
      // initial-size hint only — clamp, because length*4 overflows Int for
      // segments over 512 MB (a real CC segment is ~1 GB)
      val out = new ByteArrayOutputStream(
        math.min(bytes.length.toLong * 4, 1L << 26).toInt)
      try {
        val in = new GZIPInputStream(new ByteArrayInputStream(bytes), 1 << 16)
        val buf = new Array[Byte](1 << 16)
        var k = in.read(buf)
        while (k >= 0 && out.size() <= MaxInflatedFile) {
          out.write(buf, 0, k); k = in.read(buf)
        } // past the ceiling: stop reading, keep the prefix (truncation rule)
      } catch {
        case _: java.io.IOException => () // truncated/corrupt tail: keep prefix
      }
      out.toByteArray
    }

  /** Frame all records. Malformed/truncated tails drop the partial record. */
  def parseRecords(raw: Array[Byte]): Vector[Record] = {
    val bytes = inflate(raw)
    val recs = Vector.newBuilder[Record]
    var pos = 0
    var ok = true
    while (ok && pos < bytes.length) {
      // skip inter-record CRLFs (tolerates sloppy writers with extra blanks)
      while (pos < bytes.length && (bytes(pos) == '\r' || bytes(pos) == '\n')) pos += 1
      if (pos >= bytes.length) ok = false
      else {
        val headEnd = indexOfBlankLine(bytes, pos)
        if (headEnd < 0) ok = false // truncated mid-header
        else {
          val head = new String(bytes, pos, headEnd - pos, StandardCharsets.UTF_8)
          val lines = head.split("\r\n").toSeq
          if (lines.isEmpty || !lines.head.startsWith("WARC/")) ok = false
          else {
            var wtype = ""; var uri = ""; var date = ""; var clen = -1L
            lines.tail.foreach { ln =>
              val i = ln.indexOf(':')
              if (i > 0) {
                val k = ln.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)
                val v = ln.substring(i + 1).trim
                k match {
                  case "warc-type" => wtype = v
                  case "warc-target-uri" => uri = v
                  case "warc-date" => date = v
                  case "content-length" =>
                    clen = try v.toLong catch { case _: NumberFormatException => -1L }
                  case _ => ()
                }
              }
            }
            val blockStart = headEnd + 4 // past CRLF CRLF
            // subtraction form: `blockStart + clen` wraps for a crafted
            // Content-Length near Long.MaxValue, passing the check with a
            // chosen low-32-bit `to` — copyOfRange ZERO-PADS past the source
            // end, so the attacker picks the allocation size (≈2 GB)
            if (clen < 0 || clen > (bytes.length - blockStart).toLong) ok = false // truncated block
            else {
              recs += Record(wtype, uri, date,
                java.util.Arrays.copyOfRange(bytes, blockStart, (blockStart + clen).toInt))
              pos = (blockStart + clen).toInt
            }
          }
        }
      }
    }
    recs.result()
  }

  private def indexOfBlankLine(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  /** HTTP body of a response block = bytes after the first CRLF CRLF (the
    * status/header section is not otherwise interpreted — charset and
    * content semantics belong to the extraction kernel). A block with no
    * header/body split yields the whole block (bare-payload tolerance). */
  def httpBody(block: Array[Byte]): Array[Byte] = {
    val i = indexOfBlankLine(block, 0)
    if (i >= 0) return java.util.Arrays.copyOfRange(block, i + 4, block.length)
    // LF-only HTTP messages (sloppy origin servers; WARC stores the message
    // verbatim): accept \n\n, but ONLY when the block actually starts with
    // an HTTP status line — a bare payload containing blank lines is
    // content, not headers, and must pass through whole
    if (block.length >= 5 && block(0) == 'H' && block(1) == 'T' &&
        block(2) == 'T' && block(3) == 'P' && block(4) == '/') {
      var j = 0
      while (j + 1 < block.length) {
        if (block(j) == '\n' && block(j + 1) == '\n')
          return java.util.Arrays.copyOfRange(block, j + 2, block.length)
        j += 1
      }
    }
    block // bare-payload tolerance
  }

  // ==================== CDX index (gzip member offsets) ==================

  final case class Member(offset: Long, length: Long, bytes: Array[Byte])

  /** Walk the gzip MEMBERS of a `.warc.gz` segment, yielding each member's
    * compressed (offset, length) plus its inflated bytes. The CC convention
    * is one WARC record per member, so these offsets ARE the CDX offsets a
    * seeking reader uses (slice [offset, offset+length), inflate one
    * record). JDK `GZIPInputStream` hides member boundaries (it inflates
    * concatenated members transparently), so this walks the RFC 1952 framing
    * manually: parse the member header (FLG-driven optional fields), inflate
    * the deflate body with a raw `Inflater`, and recover the exact member
    * end from `getRemaining` plus the 8-byte CRC32/ISIZE trailer. A
    * truncated final member is dropped, never thrown on (the parseRecords
    * discipline). */
  def gzipMembers(raw: Array[Byte]): Vector[Member] = {
    val out = Vector.newBuilder[Member]
    var pos = 0
    var ok = true
    while (ok && pos + 10 <= raw.length &&
        (raw(pos) & 0xff) == 0x1f && (raw(pos + 1) & 0xff) == 0x8b) {
      val start = pos
      val flg = raw(pos + 3) & 0xff
      var p = pos + 10
      if ((flg & 4) != 0) { // FEXTRA: 2-byte LE length + payload
        if (p + 2 > raw.length) ok = false
        else { val xl = (raw(p) & 0xff) | ((raw(p + 1) & 0xff) << 8); p += 2 + xl }
      }
      def skipZeroTerm(): Unit = {
        while (p < raw.length && raw(p) != 0) p += 1
        p += 1
      }
      if (ok && (flg & 8) != 0) skipZeroTerm() // FNAME
      if (ok && (flg & 16) != 0) skipZeroTerm() // FCOMMENT
      if (ok && (flg & 2) != 0) p += 2 // FHCRC
      if (!ok || p >= raw.length) ok = false
      else {
        val inf = new java.util.zip.Inflater(true)
        try {
          inf.setInput(raw, p, raw.length - p)
          val bos = new ByteArrayOutputStream(1 << 16)
          val buf = new Array[Byte](1 << 16)
          var inflated = 0L // total expansion, retained or not — the work bound
          while (ok && !inf.finished()) {
            // corrupt deflate data throws DataFormatException — after it the
            // member boundary is unknowable, so drop this member and stop
            // the walk (prefix semantics, same as a truncated body)
            val k = try inf.inflate(buf) catch {
              case _: java.util.zip.DataFormatException => ok = false; 0
            }
            // bomb ceiling: past it, keep inflating to RECOVER the member
            // boundary (so later members still parse) but retain only the
            // capped prefix — the record framing then drops this member's
            // record as a truncated block (Content-Length > bytes)
            inflated += k
            if (inflated > MaxInflateWork) ok = false // work bound: abandon member
            else if (k > 0 && bos.size() < MaxInflatedMember)
              bos.write(buf, 0, math.min(k, MaxInflatedMember - bos.size()))
            else if (k == 0 && ok && !inf.finished() && inf.needsInput()) ok = false // truncated deflate body
          }
          if (ok) {
            val memberEnd = p + (raw.length - p - inf.getRemaining) + 8
            if (memberEnd > raw.length) ok = false // trailer cut off
            else {
              out += Member(start.toLong, (memberEnd - start).toLong, bos.toByteArray)
              pos = memberEnd
            }
          }
        } finally inf.end()
      }
    }
    out.result()
  }

  final case class CdxRow(urlkey: String, ts: Timestamp, url: String,
      digest: String, offset: Long, length: Long)

  /** SURT url key (the public CDX sort key): lowercase host reversed on
    * dots and comma-joined, then `)` + the lowercased path-and-query —
    * `http://www.Example.com/A/b?x=1` → `com,example,www)/a/b?x=1`. Host
    * and path come from the same [[graft.expressions.UrlKernel]] rules as
    * the x19/x20 canonical keys (userinfo/port stripped, fragment dropped);
    * this is the pywb-style canonicalization subset, documented rather than
    * the full legacy surt ruleset. Empty host (non-URL input) yields the
    * lowercased input verbatim so malformed rows stay greppable. */
  def surtKey(url: String): String = {
    val h = graft.expressions.UrlKernel.host(url)
    if (h.isEmpty) url.toLowerCase(java.util.Locale.ROOT)
    else {
      val rev = h.split('.').reverse.mkString(",")
      rev + ")" + graft.expressions.UrlKernel.path(url)
        .toLowerCase(java.util.Locale.ROOT)
    }
  }

  private def md5Hex(b: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(b)
    val sb = new StringBuilder(32)
    d.foreach(x => sb.append(f"${x & 0xff}%02x"))
    sb.toString
  }

  /** CDX(J)-style index rows for a `.warc.gz` segment — the artifact Common
    * Crawl publishes beside each segment (public cdxj format): one row per
    * RESPONSE member carrying the SURT key, capture time, original url, an
    * HTTP-body digest (md5 hex — the engine's digest discipline; CC uses
    * sha1-b32 in the same role) and the member's compressed offset/length.
    * Members whose record is not a response (warcinfo/request) produce no
    * row; malformed dates keep the row with epoch ts (flagged downstream,
    * never dropped silently — the pageRows rule). */
  def cdxRows(raw: Array[Byte]): Vector[CdxRow] =
    gzipMembers(raw).flatMap { m =>
      // equalsIgnoreCase — the pageRows rule: 'WARC-Type: Response' writers
      // exist, and a case-sensitive match here would index FEWER pages than
      // the extraction pipeline processes
      parseRecords(m.bytes).filter(_.warcType.equalsIgnoreCase("response")).map { r =>
        val ts = try parseDate(r.date) catch { case _: Exception => new Timestamp(0L) }
        CdxRow(surtKey(r.targetUri), ts, r.targetUri,
          md5Hex(httpBody(r.block)), m.offset, m.length)
      }
    }

  /** Response records of parsed WARC bytes as corpus page rows (text/lang
    * empty — they are extraction OUTPUTS, not crawl inputs). Dates that fail
    * to parse keep the record with epoch ts (a real crawl's malformed-date
    * rows are flagged downstream, not dropped silently). */
  def pageRows(raw: Array[Byte]): Iterator[PageRow] =
    allRecords(raw)
      .filter(_.warcType.equalsIgnoreCase("response"))
      .map { r =>
        val ts = try parseDate(r.date) catch {
          case _: RuntimeException => new Timestamp(0L)
        }
        PageRow(r.targetUri, ts, httpBody(r.block), "", "")
      }

  /** All records of a `.warc(.gz)` payload. Gzipped input walks the gzip
    * MEMBERS (one record per member, the CC convention) so only the
    * per-member bomb ceiling applies — the whole-file inflate ceiling sits
    * just under the 2 GiB array limit, and routing a real ~1 GB segment
    * (≈4 GiB inflated) through it would silently drop every record past
    * the cap while the sibling [[cdx]] path indexed them all. */
  private def allRecords(raw: Array[Byte]): Iterator[Record] =
    if (isGzip(raw)) gzipMembers(raw).iterator.flatMap(m => parseRecords(m.bytes))
    else parseRecords(raw).iterator

  /** Scan a directory/glob of `.warc` / `.warc.gz` files into page rows —
    * one task per file (binaryFile source), flatMap parse, no shuffle. */
  def pages(spark: SparkSession, path: String): Dataset[PageRow] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select("content").as[Array[Byte]]
      .flatMap(pageRows _)
  }

  /** CDX index build over `.warc.gz` segments — same dataflow as [[pages]]:
    * one task per segment file, flatMap member walk, no shuffle (the index
    * of a 64k-segment crawl is embarrassingly parallel). */
  def cdx(spark: SparkSession, path: String): Dataset[CdxRow] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select("content").as[Array[Byte]]
      .flatMap(cdxRows _)
  }

  // ==================== WET export (conversion records) ==================

  final case class WetDoc(url: String, ts: Timestamp, text: String)

  /** WARC `conversion` record — the WET record type: extracted plain text
    * standing in for the response it derives from (the public
    * `.warc.wet.gz` artifact Common Crawl publishes per segment). The block
    * is the raw UTF-8 text, no HTTP wrapper. */
  def conversionRecord(url: String, date: String, text: Array[Byte]): Array[Byte] =
    record(Seq(
      "WARC-Type" -> "conversion",
      "WARC-Target-URI" -> url,
      "WARC-Date" -> date,
      "Content-Type" -> "text/plain"), text)

  /** Conversion records of a WET segment, parsed back to rows — the reader
    * side of [[wetExport]] (round-trip pinned byte-exactly in WarcSpec). */
  def wetRows(raw: Array[Byte]): Vector[WetDoc] =
    allRecords(raw).filter(_.warcType.equalsIgnoreCase("conversion"))
      .map { r =>
        // epoch-on-malformed, the pageRows/cdxRows rule — one bad date must
        // not throw the whole segment (and the task) away
        val ts = try parseDate(r.date) catch { case _: Exception => new Timestamp(0L) }
        WetDoc(r.targetUri, ts, new String(r.block, StandardCharsets.UTF_8))
      }.toVector

  /** The WET-extraction job: crawl pages in, `.warc.wet.gz` segment bytes
    * out — ONE mapPartitions (parse upstream, row-local extraction with
    * per-partition arena reuse, segment assembly at the partition boundary),
    * zero shuffle: the same stage shape as [[graft.pipeline.Extract.run]],
    * which is exactly how the public WET artifact is produced from a WARC
    * segment. A segment is a warcinfo leader + one conversion record per
    * doc, EACH its own gzip member (the seekable CC convention —
    * [[gzipMembers]] and a CDX-style index work on a WET exactly as on a
    * WARC). One segment per non-empty partition; record ORDER inside a
    * segment follows partition order (segment grouping is a parallelism
    * artifact — the RECORD SET is what's deterministic, and what x29
    * verifies after re-parsing). */
  def wetExport(pages: Dataset[PageRow],
                cfg: graft.extract.ExtractConfig = graft.extract.ExtractConfig())
      : Dataset[Array[Byte]] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions { it =>
      val state = new graft.extract.ExtractorState()
      // STREAM records into the segment buffer as the iterator advances —
      // materializing the partition's texts into a Vector first held the
      // whole partition's extracted text AND its compressed copy live at
      // once; here live memory is one record plus the growing gzip output
      val docs = it.map { p =>
        val e = graft.extract.Extractor.extract(p.url, p.html, cfg, state)
        WetDoc(p.url, p.warc_ts, e.text)
      }
      if (!docs.hasNext) Iterator.empty
      else {
        val out = new ByteArrayOutputStream(1 << 20)
        var first = true
        docs.foreach { d =>
          if (first) {
            out.write(gzipMember(warcinfoRecord(formatDate(d.ts)))); first = false
          }
          out.write(gzipMember(conversionRecord(d.url, formatDate(d.ts),
            d.text.getBytes(StandardCharsets.UTF_8))))
        }
        Iterator.single(out.toByteArray)
      }
    }
  }
}
