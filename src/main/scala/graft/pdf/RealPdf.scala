package graft.pdf

import java.nio.charset.StandardCharsets
import java.util.zip.Inflater

import graft.extract.TextNormalizer
import graft.pdf.PdfBranch.PBlock

/** Minimal real-PDF text extraction — a from-scratch subset of the public PDF
  * spec (ISO 32000), no native libs:
  *
  *  - one byte lexer for every syntax layer ([[PdfLexer]]); a linear object
  *    scan (`N G obj … endobj`) instead of xref parsing, which also survives
  *    mildly damaged files (objects are found, not looked up);
  *  - PDF 1.5+ `/ObjStm` object streams expanded (§7.5.7), so page dicts
  *    compressed into object streams — the modern writer default — parse;
  *  - page tree walk: `/Type /Catalog` → `/Pages` → `/Kids` recursion, page
  *    order = tree order (fallback: `/Type /Page` objects in object order);
  *  - stream filters: raw, `/FlateDecode` (java.util.zip.Inflater) and
  *    `/LZWDecode` (§7.4.4, from scratch), with `/DecodeParms` PNG/TIFF
  *    predictor un-prediction (§7.4.4.4); remaining filters (DCT, CCITT, …
  *    — image codecs with no text inside) are counted as decode failures,
  *    never silently dropped — the caller records `pdf_unparsed` in lineage;
  *  - per-font `/ToUnicode` CMaps (§9.10.3): bfchar/bfrange (increment and
  *    array forms, multi-codepoint destinations), 1- and 2-byte codespaces;
  *    show strings route through the font selected by `Tf`, unmapped codes
  *    keep the Latin-ish fallback;
  *  - simple-font `/Encoding` tables (§9.6.6, Appendix D): WinAnsi, MacRoman
  *    and Standard base encodings plus `/Differences` overlays (see
  *    [[Encodings]]) decode no-ToUnicode fonts; composite (Type0) fonts
  *    without ToUnicode carry raw glyph ids — their shows are dropped and
  *    COUNTED (→ pdf_partial), never emitted as mojibake;
  *  - text operators inside BT/ET: Tj, TJ, ', ", with Td, TD, Tm, TL and
  *    T-star positioning; literal strings with octal/escape handling, hex strings
  *    (UTF-16BE when BOM'd, else Latin-ish byte chars);
  *  - geometric line/paragraph merge: shows on one baseline form a line;
  *    consecutive lines at the same left edge with regular leading form a
  *    paragraph block (the reference's line-joining recovery,
  *    ppstructure/recovery/recovery_to_markdown.py:23-126);
  *  - blocks then flow through the same banded XY-cut reading order and page
  *    concat as the mini format (PdfBranch.orderPage).
  *
  * Reference behavior grafted: per-page explode of check_and_read
  * (ppocr/utils/utility.py:119-152) + layout recovery; our "rasterize+OCR" is
  * replaced by direct content-stream text (the honest JVM-only equivalent).
  *
  * Width caveat (documented, not hidden): without font metrics a show's width
  * is estimated as 0.5em per char, so column classification keys off the left
  * edge (x midpoint), which is exact, rather than trusting the estimate.
  */
object RealPdf {

  final case class Page(pageW: Int, pageH: Int, blocks: Vector[PBlock])

  /** Parse result: pages in document order + how many streams failed to
    * decode (drives the pdf_partial/pdf_unparsed lineage status) +
    * `unmappedShows` = shows through a composite (CID) font with no
    * /ToUnicode CMap — glyph ids with no byte→text mapping, so the text is
    * DROPPED (never emitted as mojibake) and the document is pdf_partial. */
  final case class Parsed(pages: Vector[Page], decodeFailures: Int,
                          unmappedShows: Int, pagesTruncated: Boolean,
                          images: Vector[PdfImage] = Vector.empty,
                          rotatedPages: Int = 0)

  /** One embedded image XObject occurrence (ISO 32000 §8.9.5): dictionary
    * metadata + the RAW stream bytes — for /DCTDecode the stream IS a complete
    * JPEG file, so the payload is directly minable with no decode — plus the
    * placement rect when a content-stream `cm … /Name Do` drew it (the unit
    * square through the CTM, ISO 32000 §8.3.2.4; bbox in TOP-DOWN page
    * coordinates like PBlock). `placed` = false means the image sits in
    * /Resources but no parsed content stream drew it (still an embedded
    * payload worth mining — emitted once with a zero rect). */
  final case class PdfImage(page: Int, objNum: Int, name: String,
      width: Int, height: Int, bitsPerComponent: Int, colorSpace: String,
      filter: String, data: Array[Byte],
      x: Double, yTop: Double, drawW: Double, drawH: Double, placed: Boolean)

  private val graftMagic = "%PDF-GRAFT".getBytes(StandardCharsets.US_ASCII)

  /** True for a real PDF payload (vs the %PDF-GRAFT test mini-format). */
  def isReal(b: Array[Byte]): Boolean = {
    if (b == null || b.length < graftMagic.length) return b != null && b.length >= 4
    var i = 0
    while (i < graftMagic.length) {
      if (b(i) != graftMagic(i)) return true
      i += 1
    }
    false
  }

  // ---------------------------------------------------------------- objects

  /** One indirect object: its dictionary (or a bare object's bounded body
    * value; null when unreadable), its raw stream bytes and the byte offset
    * of its header. */
  private final case class PdfObj(num: Int, value: PVal, streamRaw: Array[Byte], offset: Int) {
    def dict: PDict = PDict.of(value)
  }

  /** A bare (non-dictionary) body is read only when it spans at most 64
    * bytes (a scalar an indirect `/Rotate 9 0 R` resolves) or, for an array
    * (an indirect `/Contents` target, §7.7.3.3), at most 4096. */
  private def bareValue(b: Array[Byte], from: Int, until: Int): PVal =
    if (until - from <= 64 || (b(from) == '[' && until - from <= 4096))
      PdfValue.parse(b, from, until)
    else null

  /** Scan all indirect objects SEQUENTIALLY with the lexer, jumping over each
    * object's stream body before looking for the next `N G obj` — compressed
    * stream bytes can contain anything, including phantom "12 0 obj"
    * sequences. Stream data is located via a direct /Length when present,
    * else by searching for "endstream". First definition of an object number
    * wins; a dictionary left open resumes the scan right after its `obj`. */
  private def scanObjects(payload: Array[Byte]): (Map[Int, PdfObj], Int) = {
    import PdfLexer._
    val out = scala.collection.mutable.LinkedHashMap.empty[Int, PdfObj]
    val n = payload.length
    val lex = new PdfLexer(payload)
    lex.betweenObjects = true
    while (lex.next() != Eof) if (lex.kind == Num && lex.isNat) {
      val num = lex.natInt
      val offset = lex.start
      if (lex.followedBy("obj")) {
        val objEnd = lex.end
        var value: PVal = null
        var streamRaw: Array[Byte] = null
        lex.betweenObjects = false
        lex.skipWs()
        val body = lex.pos
        if (matchAt(payload, body, "<<")) {
          lex.next()
          value = PdfValue.read(lex)
          if (value == null) lex.pos = objEnd
          else {
            lex.skipWs()
            val j = lex.pos
            if (matchAt(payload, j, "stream")) {
              var ds = j + 6
              if (ds < n && payload(ds) == '\r') ds += 1
              if (ds < n && payload(ds) == '\n') ds += 1
              val end = PDict.of(value).nat("Length") match {
                case Some(len) if len <= n - ds && // subtraction form: no wrap
                  indexOf(payload, "endstream", ds + len, n) >= 0 => ds + len
                case _ =>
                  val e = indexOf(payload, "endstream", ds, n)
                  if (e < 0) n
                  else { // trim the EOL that precedes "endstream"
                    var t = e
                    if (t > ds && payload(t - 1) == '\n') t -= 1
                    if (t > ds && payload(t - 1) == '\r') t -= 1
                    t
                  }
              }
              streamRaw = java.util.Arrays.copyOfRange(payload, ds, end)
              val es = indexOf(payload, "endstream", end, n)
              lex.pos = if (es < 0) n else es + 9
            }
          }
        } else { // a bare object `9 0 obj 90 endobj`: its body up to "endobj"
          val eo = indexOf(payload, "endobj", body, n)
          if (eo > body) value = bareValue(payload, body, eo)
          lex.pos = objEnd
        }
        lex.betweenObjects = true
        // an 11-digit pseudo object number (-1) skips ITS definition only
        if (num >= 0 && !out.contains(num))
          out += num -> PdfObj(num, value, streamRaw, offset)
      }
    }
    val objStmFailures = expandObjectStreams(out)
    (out.toMap, objStmFailures)
  }

  /** PDF 1.5+ object streams (ISO 32000 §7.5.7): a `/Type /ObjStm` stream
    * holds N compressed non-stream objects, prefixed by N (objnum, offset)
    * integer pairs; offsets are relative to /First. Page dicts routinely live
    * here. The scan finds the containers itself, so xref streams are never
    * needed; direct definitions win over contained ones (first wins). */
  private def expandObjectStreams(
      out: scala.collection.mutable.LinkedHashMap[Int, PdfObj]): Int = {
    var failures = 0
    for (stm <- out.values.filter(_.dict.name("Type").contains("ObjStm")).toVector) {
      val dec = decodeStream(stm, out.get)
      if (dec.failed) failures += 1 // a lost container loses its objects — flag it
      val d = dec.data
      if (!dec.failed && d.nonEmpty) {
        val first = stm.dict.nat("First").getOrElse(0)
        // header: N pairs "objnum offset"; an overflowed number (-1) skips
        // ITS pair only, never a phantom object or a mis-aligned offset
        val hl = new PdfLexer(d, 0, math.min(first, d.length))
        val header = Vector.newBuilder[Int]
        while (hl.next() != PdfLexer.Eof) if (hl.kind == PdfLexer.Num) header += hl.natInt
        val pairs = header.result().grouped(2).collect { case Vector(a, b) if a >= 0 && b >= 0 => (a, b) }
        for ((num, off) <- pairs.take(stm.dict.nat("N").getOrElse(0)) if !out.contains(num)) {
          // read against the FULL body (offsets need not ascend): a
          // dictionary balanced, any other value under the bare-body bounds
          val start = first + off
          if (start >= 0 && start < d.length) {
            val lex = new PdfLexer(d, start, d.length)
            lex.skipWs()
            val t = lex.pos
            val value =
              if (PdfLexer.matchAt(d, t, "<<")) PdfValue.parse(d, t, d.length)
              else if (t < d.length) bareValue(d, t, math.min(d.length, t + (if (d(t) == '[') 4096 else 64)))
              else null
            out += num -> PdfObj(num, value, null, stm.offset)
          }
        }
      }
    }
    failures
  }

  // ------------------------------------------------------------- page tree

  private def isType(o: PdfObj, t: String): Boolean = o.dict.name("Type").contains(t)

  /** `v`, or the value of the object it references (null when dangling). */
  private def deref(v: PVal, resolve: Int => Option[PdfObj]): PVal = v match {
    case PRef(n) => resolve(n).map(_.value).orNull
    case other => other
  }

  /** Pages in document order: catalog→Pages→Kids walk; fallback to /Type /Page
    * objects in object-number order when no catalog resolves. */
  private def pageObjects(objs: Map[Int, PdfObj]): Vector[PdfObj] = {
    val viaTree = objs.values.find(isType(_, "Catalog")).flatMap(_.dict.ref("Pages")).map { root =>
      val out = Vector.newBuilder[PdfObj]
      val seen = scala.collection.mutable.Set.empty[Int] // cycle guard
      // explicit-stack DFS (preorder, kids pushed reversed = document
      // order): a crafted 50k-deep /Kids chain would StackOverflowError a
      // recursive walk, an Error no NonFatal catch contains
      val stack = scala.collection.mutable.ArrayDeque(root)
      while (stack.nonEmpty) {
        val num = stack.removeHead()
        if (seen.add(num)) objs.get(num).foreach { o =>
          if (isType(o, "Pages")) o.dict.refs("Kids").reverseIterator.foreach(stack.prepend)
          else if (isType(o, "Page")) out += o
        }
      }
      out.result()
    }.getOrElse(Vector.empty)
    if (viaTree.nonEmpty) viaTree
    else objs.values.filter(isType(_, "Page")).toVector.sortBy(_.num)
  }

  /** First defined value along the page→/Parent chain, ≤32 hops (cycle
    * cap) — the §7.7.3.4 inheritable-attribute walk shared by MediaBox /
    * Rotate / Resources (one loop, not three copies to keep in sync). */
  private def inherited[A](page: PdfObj, objs: Map[Int, PdfObj])
                          (read: PDict => Option[A]): Option[A] =
    Iterator.iterate(Option(page))(_.flatMap(_.dict.ref("Parent").flatMap(objs.get)))
      .take(32).takeWhile(_.isDefined).flatMap(o => read(o.get.dict)).nextOption()

  /** MediaBox [x0 y0 x1 y1] (numbers may be reals) with /Parent inheritance
    * (default US-Letter 612×792). */
  private def pageBox(page: PdfObj, objs: Map[Int, PdfObj]): (Double, Double) =
    inherited(page, objs)(_.get("MediaBox") match {
      case PArr(Vector(x0: PNum, y0: PNum, x1: PNum, y1: PNum)) => Some((x1.d - x0.d, y1.d - y0.d))
      case _ => None
    }).getOrElse((612.0, 792.0))

  /** /Rotate with /Parent inheritance (ISO 32000 §7.7.3.3) — the viewer's
    * clockwise display rotation in degrees, normalized to {0, 90, 180, 270};
    * anything malformed or non-multiple-of-90 reads as 0 (the spec default).
    * The reference normalizes page orientation before layout analysis
    * (ppstructure/predict_system.py:112-125); here the analog is rotating
    * extracted geometry into upright coordinates before the XY-cut. */
  private def pageRotate(page: PdfObj, objs: Map[Int, PdfObj]): Int = {
    def norm(v: PVal): Int = v match {
      case PInt(r) if r.isValidInt && r % 90 == 0 => ((r.toInt % 360) + 360) % 360
      case _ => 0
    }
    // an indirect `/Rotate n 0 R` target must BE a bare integer: a dict
    // (`<< /Kids [90 0 R] >>`, object-number reuse) reads as the default 0
    inherited(page, objs)(_.get("Rotate") match {
      case v @ (_: PInt | _: PRef) => Some(norm(deref(v, objs.get)))
      case _ => None
    }).getOrElse(0)
  }

  // ---------------------------------------------------------------- streams

  /** One decoded content stream: `data` may be empty (genuinely empty stream)
    * or partial (truncated zlib input); `failed` marks any decode loss —
    * unsupported filter, corrupt Flate, or premature end — so the caller can
    * surface pdf_partial/pdf_unparsed (decode loss is never silent). */
  private[graft] final case class Decoded(data: Array[Byte], failed: Boolean)

  /** Undo a stream's /Filter: Flate or LZW, then the PNG/TIFF predictor of
    * its /DecodeParms (§7.4.4.4, routine on ObjStm/XRef) — a dictionary, an
    * array parallel to a /Filter array, or an indirect reference to either. */
  private def decodeStream(o: PdfObj, resolve: Int => Option[PdfObj]): Decoded = {
    val raw = o.streamRaw
    if (raw == null) return Decoded(Array.emptyByteArray, failed = false)
    val filters = o.dict.get("Filter") match {
      case null => return Decoded(raw, failed = false)
      case PName(f) => Vector(f)
      case PArr(items) => items.collect { case PName(f) => f }
      case _ => Vector.empty
    }
    val fi = Seq("FlateDecode", "LZWDecode").map(filters.indexOf(_)).find(_ >= 0).getOrElse(-1)
    if (fi < 0) return Decoded(Array.emptyByteArray, failed = true) // unsupported (DCT, …)
    val parms = PDict.of(deref(o.dict.get("DecodeParms"), resolve) match {
      case PArr(items) if fi < items.length => deref(items(fi), resolve)
      case other => other
    })
    val base =
      if (filters(fi) == "FlateDecode") inflateStream(raw)
      else lzwDecode(raw, parms.nat("EarlyChange").getOrElse(1))
    parms.nat("Predictor") match {
      case Some(pred) if pred >= 2 && !base.failed =>
        applyPredictor(base.data, pred, parms.nat("Columns").getOrElse(1),
          parms.nat("Colors").getOrElse(1), parms.nat("BitsPerComponent").getOrElse(8))
          .map(Decoded(_, failed = false)).getOrElse(Decoded(Array.emptyByteArray, failed = true))
      case _ => base
    }
  }

  /** Decompression bomb ceiling per stream (the MaxDecodePixels discipline):
    * deflate expands up to 1032:1 and crafted LZW ~3600:1, so a KB-sized
    * stream can demand GBs — an allocation no catch contains (the 2 GiB
    * array limit surfaces as OutOfMemoryError, an Error). 128 MiB is far
    * beyond any real content stream; exceeding it keeps the prefix and
    * FLAGS the loss, the truncated-stream discipline. */
  private val MaxDecodedStream = 1 << 27

  private def inflateStream(raw: Array[Byte]): Decoded = {
    val inf = new Inflater()
    try {
      inf.setInput(raw)
      val out = new java.io.ByteArrayOutputStream(
        math.min(math.max(64L, raw.length.toLong * 4), 1L << 16).toInt)
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsDictionary()) {
        val k = inf.inflate(buf)
        if (k == 0 && inf.needsInput())
          // truncated zlib stream: keep the partial text but FLAG the loss
          return Decoded(out.toByteArray, failed = true)
        out.write(buf, 0, k)
        if (out.size() > MaxDecodedStream) // bomb ceiling: prefix + flag
          return Decoded(out.toByteArray, failed = true)
      }
      Decoded(out.toByteArray, failed = inf.needsDictionary())
    } catch {
      case _: java.util.zip.DataFormatException =>
        Decoded(Array.emptyByteArray, failed = true)
    } finally inf.end()
  }

  /** LZWDecode (ISO 32000 §7.4.4, the TIFF LZW variant): 9→12-bit codes,
    * clear = 256, EOD = 257, code width grows `earlyChange` codes early
    * (default 1). End-of-input without EOD recovers all data (success);
    * a code beyond the table or a mid-code truncation keeps the partial
    * output and FLAGS the loss. */
  private[graft] def lzwDecode(in: Array[Byte], earlyChange: Int): Decoded = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, in.length * 3))
    val MAX = 4096
    val prefix = new Array[Int](MAX)
    val suffix = new Array[Byte](MAX)
    val scratch = new Array[Byte](MAX)
    var next = 258
    var codeBits = 9
    var prev = -1
    var bitBuf = 0L
    var bitCnt = 0
    def firstByteOf(code: Int): Byte = {
      var c = code
      while (c >= 258) c = prefix(c)
      c.toByte
    }
    def emit(code: Int): Unit = {
      var depth = 0
      var c = code
      while (c >= 258) { scratch(depth) = suffix(c); depth += 1; c = prefix(c) }
      out.write(c)
      var k = depth - 1
      while (k >= 0) { out.write(scratch(k)); k -= 1 }
    }
    var i = 0
    while (true) {
      if (out.size() > MaxDecodedStream) // bomb ceiling: prefix + flag
        return Decoded(out.toByteArray, failed = true)
      while (bitCnt < codeBits && i < in.length) {
        bitBuf = (bitBuf << 8) | (in(i) & 0xff); bitCnt += 8; i += 1
      }
      if (bitCnt < codeBits) // clean end without EOD: data fully recovered
        return Decoded(out.toByteArray, failed = false)
      val code = ((bitBuf >>> (bitCnt - codeBits)) & ((1L << codeBits) - 1)).toInt
      bitCnt -= codeBits
      if (code == 256) { next = 258; codeBits = 9; prev = -1 }
      else if (code == 257) return Decoded(out.toByteArray, failed = false)
      else if (prev < 0) {
        if (code > 255) return Decoded(out.toByteArray, failed = true)
        emit(code)
        prev = code
      } else {
        if (code < next && code != 256 && code != 257) {
          if (next < MAX) {
            prefix(next) = prev; suffix(next) = firstByteOf(code); next += 1
          }
          emit(code)
        } else if (code == next) { // KwKwK
          if (next < MAX) {
            prefix(next) = prev; suffix(next) = firstByteOf(prev); next += 1
            emit(code)
          } else return Decoded(out.toByteArray, failed = true)
        } else return Decoded(out.toByteArray, failed = true)
        prev = code
      }
      if (prev >= 0 && next + earlyChange >= (1 << codeBits) && codeBits < 12)
        codeBits += 1
    }
    Decoded(out.toByteArray, failed = true) // unreachable
  }

  /** PNG (predictor ≥ 10: per-row filter byte, Sub/Up/Average/Paeth) and
    * TIFF horizontal (predictor 2) un-prediction. Returns None on a geometry
    * mismatch (truncated rows) — the caller flags the loss. */
  private def applyPredictor(data: Array[Byte], predictor: Int, columns: Int,
                             colors: Int, bpc: Int): Option[Array[Byte]] = {
    val bpp = math.max(1, colors * bpc / 8) // PNG bpp: bytes/pixel, min 1
    // row length CEILS to whole bytes (PNG scanlines are byte-padded): the
    // floor form mis-sized sub-byte-bpc rows (/BitsPerComponent 1, Columns
    // 10 → 2 bytes, not 1) and wrongly flagged valid streams as failed
    val rowLen = math.max(1, (columns * colors * bpc + 7) / 8)
    if (predictor == 2) { // TIFF: add left neighbour (8-bit components only)
      if (bpc != 8) return None
      val out = data.clone()
      var r = 0
      while (r < out.length) {
        val end = math.min(r + rowLen, out.length)
        var k = r + bpp
        while (k < end) { out(k) = (out(k) + out(k - bpp)).toByte; k += 1 }
        r += rowLen
      }
      return Some(out)
    }
    if (data.length % (rowLen + 1) != 0) return None
    val nRows = data.length / (rowLen + 1)
    val out = new Array[Byte](nRows * rowLen)
    val prevRow = new Array[Byte](rowLen)
    var r = 0
    while (r < nRows) {
      val src = r * (rowLen + 1)
      val filter = data(src) & 0xff
      val dst = r * rowLen
      var k = 0
      while (k < rowLen) {
        val x = data(src + 1 + k) & 0xff
        val a = if (k >= bpp) out(dst + k - bpp) & 0xff else 0 // left
        val b = prevRow(k) & 0xff // up
        val c = if (k >= bpp) prevRow(k - bpp) & 0xff else 0 // up-left
        val v = filter match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + ((a + b) / 2)
          case 4 => // Paeth
            val pp = a + b - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case _ => return None
        }
        out(dst + k) = v.toByte
        k += 1
      }
      System.arraycopy(out, dst, prevRow, 0, rowLen)
      r += 1
    }
    Some(out)
  }

  // ------------------------------------------------------------ /ToUnicode

  /** A font's code→Unicode map from its /ToUnicode CMap (ISO 32000 §9.10.3):
    * `codeBytes` = code width in bytes (from the codespace range, else
    * inferred from the widest bfchar/bfrange key), `map` = code → replacement
    * (possibly multi-char — ligature splits like fi → "fi" are routine in
    * subset-embedded fonts). */
  private[graft] final case class ToUnicode(codeBytes: Int, map: Map[Int, String])

  /** Per-font byte→text decoder, resolved once per font object:
    *  - [[CMapDec]]: the font's /ToUnicode CMap (§9.10.3) — authoritative.
    *  - [[TableDec]]: a simple font's 256-entry /Encoding table (WinAnsi,
    *    MacRoman, Standard, /Differences; [[Encodings]]); null slots keep the
    *    Latin-ish fallback char.
    *  - [[CidCmapDec]]: a Type0 (Identity-H) font without /ToUnicode whose
    *    /FontFile2 carries a Unicode cmap ([[TrueTypeCmap]]); gids absent
    *    from it are dropped + counted.
    *  - [[CidNoMapDec]]: a Type0 font with neither — glyph ids with no
    *    recoverable text, dropped and counted (→ pdf_partial), never mojibake.
    * Any other font gets no entry (the Latin-ish fallback). */
  private[graft] sealed trait FontDec
  private[graft] final case class CMapDec(tu: ToUnicode) extends FontDec
  private[graft] final case class TableDec(table: Array[String]) extends FontDec
  private[graft] final case class CidCmapDec(rev: Map[Int, String]) extends FontDec
  private[graft] case object CidNoMapDec extends FontDec

  /** Bounded hex→int for CMap code keys: −1 past 6 digits, so an absurd key
    * like <FFFFFFFFFFFFFFFF> skips its ENTRY, never the document. */
  private def hexToInt(h: String): Int =
    if (h.isEmpty || h.length > 6) -1 else java.lang.Long.parseLong(h, 16).toInt

  /** UTF-16BE hex body → String (the bfchar/bfrange destination form).
    * Short bodies LEFT-pad to a unit boundary: sloppy real-world CMaps write
    * <41> meaning U+0041 — right-padding would turn it into U+4100. */
  private def hexToUtf16(h: String): String = {
    val padded = if (h.length % 4 == 0) h else "0" * (4 - h.length % 4) + h
    new String(PdfLexer.hexBytes(padded), StandardCharsets.UTF_16BE)
  }

  /** A CMap hex operand: its digits when the string holds nothing else. */
  private def cmapHex(v: PVal): String = v match {
    case PHex(h) if h.nonEmpty && h.forall(Character.digit(_, 16) >= 0) => h
    case _ => null
  }

  /** Parse one /ToUnicode CMap stream (text form): codespace width,
    * bfchar pairs, bfrange runs (increment and array destination forms).
    * bfchar entries apply before bfrange entries, so a code in both takes
    * its range mapping. Range materialization is capped at 64k codes (the
    * single-codespace maximum) so a corrupt range cannot balloon memory. */
  private[graft] def parseToUnicode(data: Array[Byte]): Option[ToUnicode] = {
    if (data == null || data.isEmpty) return None
    val m = scala.collection.mutable.HashMap.empty[Int, String]
    var keyHexLen = 0
    def key(h: String): Int = { // −1 = absurd key: skip the entry
      val k = hexToInt(h)
      if (k >= 0) keyHexLen = math.max(keyHexLen, h.length)
      k
    }
    val ranges = Vector.newBuilder[(String, String, PVal)]
    var codeSpace: String = null
    var section = ""
    val ops = scala.collection.mutable.ArrayBuffer.empty[PVal] // pending operands
    val lex = new PdfLexer(data)
    while (lex.next() != PdfLexer.Eof) {
      if (lex.kind == PdfLexer.Kw) { section = lex.text; ops.clear() }
      else if (section == "begincodespacerange") {
        if (codeSpace == null) codeSpace = cmapHex(PdfValue.read(lex))
        section = ""
      } else if (section == "beginbfchar" || section == "beginbfrange") {
        val v = PdfValue.read(lex)
        if (cmapHex(v) == null && !(v.isInstanceOf[PArr] && ops.length == 2)) ops.clear()
        else ops += v
        if (section == "beginbfchar" && ops.length == 2) {
          val k = key(cmapHex(ops(0)))
          if (k >= 0) m += k -> hexToUtf16(cmapHex(ops(1)))
          ops.clear()
        } else if (ops.length == 3) { ranges += ((cmapHex(ops(0)), cmapHex(ops(1)), ops(2))); ops.clear() }
      }
    }
    for ((l, h, dst) <- ranges.result()) {
      val hi0 = hexToInt(h)
      val arr = dst match {
        case PArr(items) => items.map(cmapHex)
        case _ => null
      }
      if (hexToInt(l) >= 0 && hi0 >= 0 && (arr == null || (arr.nonEmpty && !arr.contains(null)))) {
        val lo = key(l)
        val hi = math.min(hi0, lo + 0xFFFF)
        if (arr != null) for ((d, code) <- arr.zip(lo to hi)) m += code -> hexToUtf16(d)
        else { // increment form: the LAST UTF-16 unit increments per code (§9.10.3)
          val base = hexToUtf16(cmapHex(dst))
          for (code <- lo to hi) m += code -> (if (base.isEmpty) "" else
            base.substring(0, base.length - 1) + (base.charAt(base.length - 1) + (code - lo)).toChar)
        }
      }
    }
    if (m.isEmpty) return None
    Some(ToUnicode(math.max(1, if (codeSpace != null) codeSpace.length / 2 else (keyHexLen + 1) / 2),
      m.toMap))
  }

  /** Map a byte-char show string (Latin-1 view: char code == byte) through a
    * font's ToUnicode CMap; unmapped codes keep the Latin-ish fallback char.
    * With a 2-byte codespace, a lone trailing byte is NOT looked up as a
    * 1-byte code (a stray final 0x41 must not hit a mapping keyed <0041>) —
    * it keeps the fallback char directly. */
  private def applyToUnicode(raw: String, tu: ToUnicode): String = {
    val sb = new java.lang.StringBuilder(raw.length)
    val two = tu.codeBytes == 2
    var i = 0
    while (i < raw.length) {
      val step = if (two && i + 1 < raw.length) 2 else 1
      val code = if (step == 2) (raw.charAt(i) << 8) | raw.charAt(i + 1) else raw.charAt(i).toInt
      tu.map.get(code) match {
        case Some(repl) if step == 2 || !two => sb.append(repl)
        case _ => sb.append(raw, i, i + step) // unmapped or a lone trailing byte
      }
      i += step
    }
    sb.toString
  }

  // ------------------------------------------------- content stream → text

  private[graft] final case class Chunk(x: Double, y: Double, size: Double, text: String)

  /** An XObject drawn by the content stream: `name` (the /Resources /XObject
    * key) + the bbox of the unit square through the CTM at the `Do` operator,
    * in PDF (bottom-up) coordinates. */
  private[graft] final case class ImagePlace(name: String, x0: Double, y0: Double,
                                             x1: Double, y1: Double)

  private[graft] final case class ChunkScan(chunks: Vector[Chunk], unmapped: Int,
                                            places: Vector[ImagePlace])

  /** Tokenize a content stream and emit one Chunk per text-showing operator,
    * positioned by the (subset) text state machine; `Tf` selects the font
    * decoder ([[FontDec]]) shows route through (none: Latin-ish fallback).
    * Also counts shows dropped through a CID font with no /ToUnicode (the
    * pdf_partial signal) and records image placements. */
  private[graft] def extractChunks(data: Array[Byte],
                                   fonts: Map[String, FontDec] = Map.empty): ChunkScan = {
    import PdfLexer._
    val out = Vector.newBuilder[Chunk]
    // operand stack (only the tail matters per operator)
    val nums = scala.collection.mutable.ArrayBuffer.empty[Double]
    val strs = scala.collection.mutable.ArrayBuffer.empty[String]
    var fontSize = 12.0
    var leading = 0.0
    var lineX = 0.0; var lineY = 0.0 // text line matrix origin (tx, ty)
    var inText = false
    var lastName: String = "" // most recent /name operand (the Tf font operand)
    var curDec: FontDec = null
    var unmapped = 0
    // graphics state: CTM as (a b c d e f) with q/Q save/restore — tracked so
    // `Do` can place image XObjects (x' = a·u + c·v + e, y' = b·u + d·v + f)
    var ctm = Array(1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    val gsStack = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val places = Vector.newBuilder[ImagePlace]

    // mapping happens at operand-PUSH time: every op clears the stack, so
    // the font at push is the font at show, and TJ kern spaces go into
    // already-mapped text (2-byte code alignment stays intact)
    def mapStr(t: String): String = curDec match {
      case null => t
      case CMapDec(tu) => applyToUnicode(t, tu)
      case TableDec(tab) =>
        val sb = new java.lang.StringBuilder(t.length)
        t.foreach { c => val r = if (c < 256) tab(c) else null; if (r != null) sb.append(r) else sb.append(c) }
        sb.toString
      case CidCmapDec(rev) =>
        // 2-byte glyph ids reversed through the embedded font cmap; a gid
        // the cmap doesn't cover drops (+flag), never mojibake
        val sb = new java.lang.StringBuilder(t.length / 2)
        var dropped = t.length % 2 == 1 // an odd trailing byte: malformed show
        for (k <- 0 until t.length - 1 by 2) rev.get((t.charAt(k) << 8) | (t.charAt(k + 1) & 0xff)) match {
          case Some(txt) => sb.append(txt)
          case None => dropped = true
        }
        if (dropped) unmapped += 1
        sb.toString
      case CidNoMapDec => // glyph ids, no mapping: drop + flag, never mojibake
        if (t.nonEmpty) unmapped += 1
        ""
    }
    // the current string token through the active font (null: malformed);
    // BOM'd UTF-16BE hex is already Unicode and skips the font map, other
    // bytes read as Latin-ish byte chars (char code == byte)
    def shown(lex: PdfLexer): String =
      if (lex.kind == Str) mapStr(lex.literal)
      else PdfLexer.hexBytes(lex.hexRaw) match {
        case null => null
        case b if b.length >= 2 && (b(0) & 0xff) == 0xfe && (b(1) & 0xff) == 0xff =>
          new String(b, 2, b.length - 2, StandardCharsets.UTF_16BE)
        case b => mapStr(new String(b, StandardCharsets.ISO_8859_1))
      }
    def show(text: String): Unit =
      if (inText && text.nonEmpty) out += Chunk(lineX, lineY, fontSize, text)

    val lex = new PdfLexer(data)
    while (lex.next() != Eof) lex.kind match {
      case Str | Hex => val t = shown(lex); if (t != null) strs += t
      case DictOpen => PdfValue.read(lex) // inline dict (e.g. BDC properties)
      case ArrOpen =>
        // a TJ operand: strings and kerns up to the first ']' (kern < -100 ⇒
        // space), one flat array whatever its nesting; bounded per array
        val sb = new java.lang.StringBuilder()
        var pendingKernSpace = false
        var guard = 0
        while (lex.next() != Eof && lex.kind != ArrClose && guard < 1000000) {
          guard += 1
          if (lex.kind == Str || lex.kind == Hex) {
            val t = shown(lex)
            if (t != null) {
              if (pendingKernSpace && sb.length() > 0) sb.append(' ')
              pendingKernSpace = false
              sb.append(t)
            }
          } else if (lex.kind == Num && lex.num < -100.0) pendingKernSpace = true
        }
        strs += sb.toString
      case Name => lastName = lex.text
      case Num => val v = lex.num; if (!v.isNaN) nums += v
      case Kw =>
        lex.text match {
          // §9.4.1: BT resets the text matrices only — TL (leading) is TEXT
          // STATE that persists across BT/ET like fontSize/curDec do; a
          // `12 TL` in one text object governs `'`/`T*` in the next
          case "BT" => inText = true; lineX = 0; lineY = 0
          case "ET" => inText = false
          case "Tf" =>
            if (nums.nonEmpty) fontSize = nums.last
            curDec = fonts.getOrElse(lastName, null)
          case "TL" => if (nums.nonEmpty) leading = nums.last
          case "Td" => if (nums.length >= 2) { lineX += nums(nums.length - 2); lineY += nums.last }
          case "TD" => if (nums.length >= 2) {
            leading = -nums.last; lineX += nums(nums.length - 2); lineY += nums.last
          }
          case "Tm" => if (nums.length >= 6) { lineX = nums(nums.length - 2); lineY = nums.last }
          case "T*" => lineY -= leading
          case "Tj" | "TJ" => if (strs.nonEmpty) show(strs.last)
          case "'" | "\"" => lineY -= leading; if (strs.nonEmpty) show(strs.last)
          case "BI" => // inline image: skip to EI AS A STANDALONE TOKEN —
            // the pixel bytes after ID can hold the pair 'EI' (mojibake)
            var e = indexOf(data, "EI", lex.pos, data.length)
            while (e > 0 && !(isWs(data(e - 1) & 0xff) &&
                (e + 2 >= data.length || isDelimOrWs(data(e + 2) & 0xff))))
              e = indexOf(data, "EI", e + 1, data.length)
            lex.pos = if (e < 0) data.length else e + 2
          case "q" => gsStack += ctm.clone()
          case "Q" => if (gsStack.nonEmpty) ctm = gsStack.remove(gsStack.length - 1)
          case "cm" => if (nums.length >= 6) {
            // CTM' = M_cm × CTM (ISO 32000 §8.3.4, row-vector convention)
            val o = nums.length - 6
            val (ma, mb, mc, md, me, mf) =
              (nums(o), nums(o + 1), nums(o + 2), nums(o + 3), nums(o + 4), nums(o + 5))
            ctm = Array(
              ma * ctm(0) + mb * ctm(2), ma * ctm(1) + mb * ctm(3),
              mc * ctm(0) + md * ctm(2), mc * ctm(1) + md * ctm(3),
              me * ctm(0) + mf * ctm(2) + ctm(4), me * ctm(1) + mf * ctm(3) + ctm(5))
          }
          case "Do" => if (lastName.nonEmpty) {
            // image XObjects paint the unit square through the CTM — record
            // its bbox (handles rotated/flipped placements); form XObjects
            // recorded too and filtered at parse time by /Subtype /Image
            var xMin = Double.MaxValue; var xMax = Double.MinValue
            var yMin = Double.MaxValue; var yMax = Double.MinValue
            var ci = 0
            while (ci < 4) {
              val u = ci & 1; val v = ci >> 1
              val px = ctm(0) * u + ctm(2) * v + ctm(4)
              val py = ctm(1) * u + ctm(3) * v + ctm(5)
              if (px < xMin) xMin = px; if (px > xMax) xMax = px
              if (py < yMin) yMin = py; if (py > yMax) yMax = py
              ci += 1
            }
            places += ImagePlace(lastName, xMin, yMin, xMax, yMax)
          }
          case _ => ()
        }
        nums.clear(); strs.clear()
      case _ => () // a stray ')', '>', ']', '{' or '}'
    }
    ChunkScan(out.result(), unmapped, places.result())
  }

  // --------------------------------------------- chunks → lines → blocks

  /** Group chunks into baselines, baselines into paragraph blocks, and map to
    * the top-down PBlock space that orderPage expects.
    *
    * Line rule: consecutive chunks on the same baseline (equal y) concatenate.
    * Paragraph rule (geometric merge, ≡ recovery_to_markdown.py:23-126):
    * consecutive lines with the same left edge whose downward step is at most
    * 2× the font size join with ' '; anything else starts a new block. The
    * per-block (x, topY) then drive the banded XY-cut — the left edge is
    * exact, so column assignment never depends on the width estimate. */
  private[pdf] def chunksToBlocks(chunks: Vector[Chunk], pageH: Double,
                                  off: Int, end: Int): Vector[PBlock] = {
    if (chunks.isEmpty) return Vector.empty
    // merge same-baseline consecutive chunks into lines
    final case class Line(x: Double, y: Double, size: Double, text: String)
    val lines = Vector.newBuilder[Line]
    var cx = chunks.head.x; var cy = chunks.head.y; var cs = chunks.head.size
    var buf = new java.lang.StringBuilder(chunks.head.text)
    var i = 1
    while (i < chunks.length) {
      val ch = chunks(i)
      // same baseline AND same unmoved line origin = continuation of the same
      // show sequence; same baseline at a DIFFERENT x is another column's text
      // (two-column pages share baselines constantly) and must stay separate
      if (math.abs(ch.y - cy) < 0.01 && math.abs(ch.x - cx) < 0.01) buf.append(ch.text)
      else {
        lines += Line(cx, cy, cs, buf.toString)
        cx = ch.x; cy = ch.y; cs = ch.size
        buf = new java.lang.StringBuilder(ch.text)
      }
      i += 1
    }
    lines += Line(cx, cy, cs, buf.toString)
    val ls = lines.result()

    // geometric paragraph merge over consecutive lines
    val blocks = Vector.newBuilder[PBlock]
    var b0 = 0
    def flush(b1: Int): Unit = { // lines[b0, b1) form one block
      if (b1 > b0) {
        val seg = ls.slice(b0, b1)
        val text = TextNormalizer.normalize(seg.map(_.text).mkString(" "))
        if (text.nonEmpty) {
          val size = seg.head.size
          val topY = seg.map(_.y).max
          val minX = seg.map(_.x).min
          val wEst = 0.5 * size * seg.map(_.text.length).max // 0.5em/char, no metrics
          blocks += PBlock(
            math.round(minX).toInt,
            math.round(pageH - topY - size).toInt,
            math.round(wEst).toInt,
            math.round(seg.length * 1.2 * size).toInt,
            text, off, end)
        }
      }
    }
    i = 1
    while (i < ls.length) {
      val prev = ls(i - 1)
      val cur = ls(i)
      val step = prev.y - cur.y // positive = moving down the page
      val samePara = math.abs(cur.x - prev.x) < 0.5 && step > 0.01 && step <= 2.0 * cur.size
      if (!samePara) { flush(i); b0 = i }
      i += 1
    }
    flush(ls.length)
    blocks.result()
  }

  // -------------------------------------------------------- font resources

  /** A dict-valued entry: inline `<< … >>` or an indirect reference. */
  private def subDict(dict: PDict, key: String, objs: Map[Int, PdfObj]): Option[PDict] =
    Some(deref(dict.get(key), objs.get)).collect { case d: PDict => d }

  /** The `/Name N 0 R` entries of a resource subdictionary, in dict order. */
  private def refEntries(dict: PDict, objs: Map[Int, PdfObj]): Vector[(String, PdfObj)] =
    dict.entries.collect { case (name, PRef(n)) if objs.contains(n) => name -> objs(n) }

  /** Identity-H recovery: /DescendantFonts → /FontDescriptor → /FontFile2
    * → the embedded TrueType cmap, reversed gid → text ([[TrueTypeCmap]]),
    * valid only under /CIDToGIDMap /Identity (the default); anything else
    * falls back to the honest drop-and-flag [[CidNoMapDec]]. */
  private def cidDec(fontDict: PDict, objs: Map[Int, PdfObj],
      ttCache: scala.collection.mutable.HashMap[Int, Option[Map[Int, String]]]): FontDec = {
    val rev = fontDict.refs("DescendantFonts").headOption
      .flatMap(objs.get).flatMap { d =>
        val gidIdentity = d.dict.get("CIDToGIDMap") == null ||
          d.dict.name("CIDToGIDMap").contains("Identity")
        if (!gidIdentity) None
        else d.dict.ref("FontDescriptor").flatMap(objs.get).flatMap { fd =>
          fd.dict.ref("FontFile2").flatMap { ffNum =>
            // font programs are shared across pages: parse each once per doc
            ttCache.getOrElseUpdate(ffNum, objs.get(ffNum).flatMap { ff =>
              val dec = decodeStream(ff, objs.get)
              if (dec.failed) None else TrueTypeCmap.gidToText(dec.data)
            })
          }
        }
      }
    rev.map(CidCmapDec.apply).getOrElse(CidNoMapDec)
  }

  /** Resolve one font object's decoder when it has NO /ToUnicode CMap:
    *  - composite (Type0) fonts — their /Encoding is a CMap name like
    *    Identity-H; without ToUnicode the codes are raw glyph ids → CidNoMap;
    *  - `/Encoding /WinAnsiEncoding` (name form) → the Appendix D table;
    *  - `/Encoding << /BaseEncoding … /Differences [ … ] >>` (inline dict or
    *    indirect ref) → base table (Standard when unnamed — the spec default
    *    for non-symbolic Type1) overlaid with the Differences;
    *  - anything else → None (Latin-ish fallback, the pre-existing path). */
  private def encodingDec(fontDict: PDict, objs: Map[Int, PdfObj],
      ttCache: scala.collection.mutable.HashMap[Int, Option[Map[Int, String]]])
      : Option[FontDec] = {
    if (fontDict.name("Subtype").contains("Type0"))
      return Some(cidDec(fontDict, objs, ttCache))
    subDict(fontDict, "Encoding", objs) match {
      case Some(enc) =>
        val base = enc.name("BaseEncoding").flatMap(Encodings.baseTable).getOrElse(Encodings.standard)
        Some(enc.get("Differences") match {
          case PArr(items) => TableDec(Encodings.withDifferences(base, items))
          case _ => TableDec(base)
        })
      case None =>
        fontDict.name("Encoding") match {
          case Some(name) if name.startsWith("Identity") => Some(CidNoMapDec)
          case Some(name) => Encodings.baseTable(name).map(TableDec.apply)
          case None => None
        }
    }
  }

  /** The page's /Resources dict (inline or indirect), inherited through
    * /Parent like MediaBox (ISO 32000 §7.7.3.4). */
  private def pageResources(page: PdfObj, objs: Map[Int, PdfObj]): Option[PDict] =
    inherited(page, objs)(subDict(_, "Resources", objs))

  /** Per-page image XObjects: /Resources → /XObject → each `/Name N 0 R`
    * entry whose object is `/Subtype /Image`, in dict order. */
  private def pageImageObjs(page: PdfObj, objs: Map[Int, PdfObj]): Vector[(String, PdfObj)] =
    pageResources(page, objs).flatMap(subDict(_, "XObject", objs)).toVector
      .flatMap(refEntries(_, objs)).filter(_._2.dict.name("Subtype").contains("Image"))

  /** Per-page font-name → decoder map: /Resources (with /Parent inheritance)
    * → /Font → each `/Fn N 0 R` entry → the font's /ToUnicode CMap stream
    * (authoritative) or its /Encoding tables ([[encodingDec]]). Fonts with
    * neither simply don't appear (their shows keep the Latin-ish fallback). */
  private def pageFonts(page: PdfObj, objs: Map[Int, PdfObj],
      tuCache: scala.collection.mutable.HashMap[Int, Option[ToUnicode]],
      ttCache: scala.collection.mutable.HashMap[Int, Option[Map[Int, String]]])
      : Map[String, FontDec] =
    pageResources(page, objs).flatMap(subDict(_, "Font", objs)).toVector
      .flatMap(refEntries(_, objs)).flatMap { case (name, fo) =>
        val viaCMap: Option[FontDec] = fo.dict.ref("ToUnicode").flatMap { tuNum =>
          // CMaps are shared across pages: parse each /ToUnicode object
          // once per document, not once per page
          tuCache.getOrElseUpdate(tuNum, objs.get(tuNum).flatMap { tuObj =>
            val dec = decodeStream(tuObj, objs.get)
            if (dec.failed) None else parseToUnicode(dec.data)
          }).map(CMapDec.apply)
        }
        viaCMap.orElse(encodingDec(fo.dict, objs, ttCache)).map(name -> _)
      }.toMap

  // ------------------------------------------------------------------ parse

  /** Parse a real PDF into ordered pages of paragraph blocks. Returns None
    * only on a structural failure (no page objects at all / exception). */
  def parse(payload: Array[Byte], maxPages: Int): Option[Parsed] = {
    try {
      val (objs, objStmFailures) = scanObjects(payload)
      val pagesAll = pageObjects(objs)
      if (pagesAll.isEmpty) return None
      val pagesTruncated = pagesAll.length > maxPages
      val pages = if (pagesTruncated) pagesAll.take(maxPages) else pagesAll
      var decodeFailures = objStmFailures
      var unmappedShows = 0
      val tuCache = scala.collection.mutable.HashMap.empty[Int, Option[ToUnicode]]
      val ttCache = scala.collection.mutable.HashMap.empty[Int, Option[Map[Int, String]]]
      val images = Vector.newBuilder[PdfImage]
      var rotatedPages = 0
      val out = pages.zipWithIndex.map { case (p, pageIdx) =>
        val (w, h) = pageBox(p, objs)
        val rot = pageRotate(p, objs)
        if (rot != 0) rotatedPages += 1
        // upright (display) page dims: /Rotate 90/270 swap the MediaBox axes
        val (rw, rh) = if (rot == 90 || rot == 270) (h, w) else (w, h)
        // raw user coords -> upright display coords (clockwise viewer
        // rotation `rot`): 90 maps (x,y)->(y, w-x); 180 -> (w-x, h-y);
        // 270 -> (h-y, x). Applied to every geometry BEFORE the XY-cut so a
        // rotated page reads in its upright order.
        def upright(x: Double, y: Double): (Double, Double) = rot match {
          case 90  => (y, w - x)
          case 180 => (w - x, h - y)
          case 270 => (h - y, x)
          case _   => (x, y)
        }
        val fonts = pageFonts(p, objs, tuCache, ttCache)
        // §7.7.3.3: /Contents may be an indirect reference TO an array of
        // stream refs (a bare object) — unexpanded, the page would lose all
        // its text with status "ok"
        val contentRefs = p.dict.refs("Contents") match {
          case Vector(one) => objs.get(one) match {
            case Some(PdfObj(_, a: PArr, null, _)) if a.refs.nonEmpty => a.refs
            case _ => Vector(one)
          }
          case v => v
        }
        // aggregate bomb ceiling: `/Contents [5 0 R 5 0 R …]` re-decodes one
        // bomb per mention — bound the page's TOTAL decoded content too,
        // keep the prefix, FLAG the loss once
        var contentBudget = MaxDecodedStream.toLong
        var contentCapped = false
        val datas = contentRefs.flatMap { r =>
          if (contentBudget <= 0) {
            if (!contentCapped) { decodeFailures += 1; contentCapped = true }
            None
          } else objs.get(r).map { o =>
            val d = decodeStream(o, objs.get)
            if (d.failed) decodeFailures += 1
            contentBudget -= d.data.length
            d.data
          }
        }
        // provenance offsets: the first content object's header, as scanned
        val off = contentRefs.headOption.flatMap(objs.get).map(_.offset).getOrElse(0)
        // ISO 32000 §7.8.2: a page's /Contents array behaves as ONE stream
        // (graphics and text state span stream boundaries, tokens do not),
        // so parse the concatenation, joined by a whitespace byte
        val joined =
          if (datas.length <= 1) datas.headOption.getOrElse(Array.emptyByteArray)
          else {
            val out = new java.io.ByteArrayOutputStream(datas.map(_.length).sum + datas.length)
            datas.foreach { d => out.write(d); out.write('\n') }
            out.toByteArray
          }
        val scan = extractChunks(joined, fonts)
        unmappedShows += scan.unmapped
        val chunks = if (rot == 0) scan.chunks else scan.chunks.map { c =>
          val (ux, uy) = upright(c.x, c.y)
          c.copy(x = ux, y = uy)
        }
        val places = if (rot == 0) scan.places else scan.places.map { q =>
          val (ax, ay) = upright(q.x0, q.y0)
          val (bx, by) = upright(q.x1, q.y1)
          q.copy(x0 = math.min(ax, bx), y0 = math.min(ay, by), x1 = math.max(ax, bx), y1 = math.max(ay, by))
        }
        // embedded images: every /Resources /XObject image, with a placement
        // rect per Do occurrence (top-down coords, like PBlock) — an image the
        // content stream never drew still carries its payload (placed=false)
        val imgObjs = pageImageObjs(p, objs)
        if (imgObjs.nonEmpty) {
          val byName = imgObjs.toMap
          val drawn = scala.collection.mutable.Set.empty[String]
          def mk(name: String, o: PdfObj, pl: Option[ImagePlace]): PdfImage = {
            val d = o.dict
            PdfImage(pageIdx, o.num, name, d.nat("Width").getOrElse(0), d.nat("Height").getOrElse(0),
              d.nat("BitsPerComponent").getOrElse(8), d.name("ColorSpace").getOrElse(""),
              d.name("Filter").getOrElse("none"), Option(o.streamRaw).getOrElse(Array.emptyByteArray),
              pl.map(_.x0).getOrElse(0.0), pl.map(q => rh - q.y1).getOrElse(0.0),
              pl.map(q => q.x1 - q.x0).getOrElse(0.0),
              pl.map(q => q.y1 - q.y0).getOrElse(0.0),
              placed = pl.isDefined)
          }
          for (pl <- places; o <- byName.get(pl.name)) {
            drawn += pl.name
            images += mk(pl.name, o, Some(pl))
          }
          for ((name, o) <- imgObjs if !drawn.contains(name))
            images += mk(name, o, None)
        }
        Page(math.round(rw).toInt, math.round(rh).toInt,
          chunksToBlocks(chunks, rh, off, math.min(payload.length, off + 1)))
      }
      Some(Parsed(out, decodeFailures, unmappedShows, pagesTruncated,
        images.result(), rotatedPages))
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }
}
