package graft.corpus

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.Deflater

/** Deterministic real-PDF builder for golden fixtures: classic PDF 1.4 files
  * with a catalog → pages → page tree, per-page content streams (raw or
  * FlateDecode), BT/ET text blocks positioned with Tf/Td, and a valid
  * xref/trailer. Everything here is the public PDF file format (ISO 32000);
  * the builder exists so the golden corpus can carry REAL PDFs whose expected
  * text is authored from construction, never from running the extractor.
  */
object RealPdfGen {

  /** One text block placed on a page: left edge `x`, top edge `yTop` (in
    * top-down page coordinates, like the extractor's PBlock space), wrapped
    * `lines` shown top-to-bottom with leading = fontSize + 2. */
  final case class Placed(x: Int, yTop: Int, fontSize: Int, lines: Seq[String])

  /** A page: width, height, blocks in content-stream emission order (the
    * extractor must recover reading order from geometry, not this order). */
  final case class PageSpec(w: Int, h: Int, blocks: Seq[Placed], compress: Boolean)

  /** Greedy word-wrap at `maxChars` per line (single-spaced text only). */
  def wrap(text: String, maxChars: Int): Vector[String] = {
    val out = Vector.newBuilder[String]
    val sb = new java.lang.StringBuilder()
    for (w <- text.split(" ")) {
      if (sb.length() == 0) sb.append(w)
      else if (sb.length() + 1 + w.length <= maxChars) sb.append(' ').append(w)
      else { out += sb.toString; sb.setLength(0); sb.append(w) }
    }
    if (sb.length() > 0) out += sb.toString
    out.result()
  }

  private def esc(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '(' || c == ')' || c == '\\') sb.append('\\')
      sb.append(c)
      i += 1
    }
    sb.toString
  }

  private def hex(s: String): String =
    s.getBytes(StandardCharsets.ISO_8859_1).map(b => f"${b & 0xff}%02X").mkString

  private def latin1(s: String): Array[Byte] = s.getBytes(StandardCharsets.ISO_8859_1)

  /** MediaBox width and height of `p` stored with `/Rotate rot`: the axes
    * swap for 90/270. */
  private def stored(p: PageSpec, rot: Int): (Int, Int) =
    if (rot == 90 || rot == 270) (p.h, p.w) else (p.w, p.h)

  /** Content stream for one UPRIGHT page stored with `/Rotate rot` (0 = no
    * rotation): one BT/ET per block, lines via Td steps. Even lines show as
    * escaped literals, odd lines as hex strings inside TJ arrays — both
    * writer forms stay golden-covered. The upright baseline of a line at
    * top-down y is (pageH - y - fontSize) in PDF bottom-up coordinates — the
    * inverse of the extractor's flip, so the extractor's PBlock (x, y)
    * reproduces (x, yTop) exactly. Each baseline is emitted at the raw
    * user-space position whose image under the viewer's clockwise rotation is
    * that upright position, and per-line steps follow the rotated downward
    * direction — so a conforming viewer (and the extractor's rotation
    * normalization) sees the identical upright page. Inverse maps (stored
    * page Ws×Hs, upright X,Y bottom-up): 90 → (Ws−Y, X); 180 → (Ws−X, Hs−Y);
    * 270 → (Y, Hs−X). */
  private def contentFor(p: PageSpec, rot: Int = 0): Array[Byte] = {
    val (ws, hs) = stored(p, rot)
    val sb = new java.lang.StringBuilder()
    for (b <- p.blocks) {
      val leading = b.fontSize + 2
      val yUp = p.h - b.yTop - b.fontSize // upright first-line baseline
      val (x0, y0) = rot match {
        case 90  => (ws - yUp, b.x)
        case 180 => (ws - b.x, hs - yUp)
        case 270 => (yUp, hs - b.x)
        case _   => (b.x, yUp)
      }
      // upright downward step (0, -leading) in stored user space
      val (dx, dy) = rot match {
        case 90  => (leading, 0)
        case 180 => (0, leading)
        case 270 => (-leading, 0)
        case _   => (0, -leading)
      }
      sb.append("BT\n/F1 ").append(b.fontSize).append(" Tf\n")
        .append(x0).append(' ').append(y0).append(" Td\n")
      for ((line, idx) <- b.lines.zipWithIndex) {
        if (idx > 0) sb.append(dx).append(' ').append(dy).append(" Td\n")
        if (idx % 2 == 0) sb.append('(').append(esc(line)).append(") Tj\n")
        else sb.append("[<").append(hex(line)).append(">] TJ\n")
      }
      sb.append("ET\n")
    }
    latin1(sb.toString)
  }

  /** PDF LZWDecode-compatible encoder (ISO 32000 §7.4.4 / TIFF LZW):
    * 9→12-bit codes, clear = 256, EOD = 257, early-change width growth.
    * Exists so fixtures can carry genuine LZW streams whose expected text is
    * authored, never derived from the decoder under test. */
  def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length)
    var bitBuf = 0L
    var bitCnt = 0
    var codeBits = 9
    def putCode(c: Int): Unit = {
      bitBuf = (bitBuf << codeBits) | c
      bitCnt += codeBits
      while (bitCnt >= 8) {
        out.write(((bitBuf >>> (bitCnt - 8)) & 0xff).toInt)
        bitCnt -= 8
      }
    }
    // int trie over codes: the children of code p are firstChild(p), then
    // nextSibling(...) links, each carrying its last byte in `suffix`; 0 =
    // none (added codes start at 258, single bytes are the implicit roots).
    // Small fixed arrays, reset by clearing firstChild below `next`.
    val firstChild = new Array[Int](4096)
    val nextSibling = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    var next = 258
    putCode(256) // leading clear (what real encoders emit)
    var w = if (data.length > 0) data(0) & 0xff else -1 // current prefix code; -1 = empty
    var i = 1
    var emittedSinceClear = false
    while (i < data.length) {
      val c = data(i) & 0xff
      var k = firstChild(w)
      while (k != 0 && suffix(k) != c) k = nextSibling(k)
      if (k != 0) w = k
      else {
        putCode(w); emittedSinceClear = true
        if (next < 4096) {
          suffix(next) = c; nextSibling(next) = firstChild(w); firstChild(w) = next
          next += 1
          // width pairing: the decoder's entry count lags the encoder's by
          // one at the same stream position, and (early change) the decoder
          // widens when ITS next+1 would overflow — so the encoder widens
          // when its own next reaches the boundary exactly
          if (next >= (1 << codeBits) && codeBits < 12) codeBits += 1
        } else {
          putCode(256); java.util.Arrays.fill(firstChild, 0, next, 0)
          next = 258; codeBits = 9
          emittedSinceClear = false
        }
        w = c
      }
      i += 1
    }
    if (w >= 0) {
      putCode(w)
      // the decoder adds one more table entry upon reading this flush code
      // (it is not miss-driven here, so the loop above never counted it) —
      // mirror that entry so EOD is emitted at the width the decoder will
      // read it with (without this, a stream whose flush code lands the
      // decoder exactly on a 2^n-1 boundary has its EOD read one bit wide:
      // 2 bytes of garbage decoded with failed=false)
      if (emittedSinceClear && next < 4096) {
        next += 1
        if (next >= (1 << codeBits) && codeBits < 12) codeBits += 1
      }
    }
    putCode(257) // EOD
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
    out.toByteArray
  }

  /** PNG Up-predictor (filter 2) forward application in rows of `columns`
    * bytes, the /DecodeParms layout xref/ObjStm writers use. */
  def pngUpPredict(data: Array[Byte], columns: Int): Array[Byte] = {
    val nRows = (data.length + columns - 1) / columns
    val padded = java.util.Arrays.copyOf(data, nRows * columns)
    val out = new ByteArrayOutputStream(padded.length + nRows)
    val prev = new Array[Byte](columns)
    var r = 0
    while (r < nRows) {
      out.write(2) // Up filter
      var k = 0
      while (k < columns) {
        val x = padded(r * columns + k)
        out.write((x - prev(k)) & 0xff)
        k += 1
      }
      System.arraycopy(padded, r * columns, prev, 0, columns)
      r += 1
    }
    out.toByteArray
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, false)
    d.setInput(data)
    d.finish()
    val out = new ByteArrayOutputStream(math.max(64, data.length / 2))
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def be16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def be32(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  // ---- the object writer ---------------------------------------------------

  /** One PDF file being written: `obj` and `stream` record each object's byte
    * offset under its number, `content` writes a page's content stream, and
    * `finish` closes the file with a classic xref table and trailer. */
  private final class PdfWriter(version: String) {
    private val out = new ByteArrayOutputStream(4096)
    val offsets = scala.collection.mutable.HashMap.empty[Int, Int] // objnum → byte offset
    put(s"%PDF-$version\n")

    private def put(s: String): Unit = out.write(latin1(s))
    def size: Int = out.size()

    def obj(num: Int, body: String): Unit = {
      offsets(num) = out.size()
      put(s"$num 0 obj\n$body\nendobj\n")
    }

    /** Stream object `num` with dictionary `dict` (which carries /Length). */
    def stream(num: Int, dict: String, data: Array[Byte]): Unit = {
      offsets(num) = out.size()
      put(s"$num 0 obj\n$dict\nstream\n")
      out.write(data)
      put("\nendstream\nendobj\n")
    }

    /** Page content stream `num`: raw, or compressed (Flate, LZW if `lzw`)
      * when the page says `compress`. */
    def content(num: Int, p: PageSpec, raw: Array[Byte], lzw: Boolean = false): Unit = {
      val (data, filter) =
        if (!p.compress) (raw, "")
        else if (lzw) (lzwEncode(raw), " /Filter /LZWDecode")
        else (deflate(raw), " /Filter /FlateDecode")
      stream(num, s"<< /Length ${data.length}$filter >>", data)
    }

    def startxref(xrefOff: Int): Array[Byte] = {
      put(s"startxref\n$xrefOff\n%%EOF\n")
      out.toByteArray
    }

    /** Classic xref table over objects 1..n, which must all be written. */
    def finish(): Array[Byte] = {
      val xrefOff = out.size()
      val total = offsets.size + 1
      put(s"xref\n0 $total\n0000000000 65535 f \n")
      for (num <- 1 until total) // Locale.ROOT: %d digits localize under e.g. ar locales
        put(String.format(java.util.Locale.ROOT, "%010d 00000 n \n",
          Integer.valueOf(offsets(num))))
      put(s"trailer\n<< /Size $total /Root 1 0 R >>\n")
      startxref(xrefOff)
    }
  }

  private val catalog = "<< /Type /Catalog /Pages 2 0 R >>"

  private def pagesNode(kids: Seq[Int], extra: String = ""): String =
    s"<< /Type /Pages /Kids [${kids.map(k => s"$k 0 R").mkString(" ")}] " +
      s"/Count ${kids.length}$extra >>"

  /** Page dict; `rotate` is empty or a `/Rotate … ` entry. */
  private def pageDict(w: Int, h: Int, contNum: Int, resources: String,
                       rotate: String = ""): String =
    s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 $w $h] $rotate" +
      s"/Contents $contNum 0 R /Resources << $resources >> >>"

  private val helvetica = "/F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"

  /** The classic layout: 1 = catalog, 2 = pages (with `pagesExtra`), 3+2i =
    * page i with `resources`, 4+2i = its content stream `content(page)`;
    * `tail` writes the objects from 3+2n. `rot` stores every page rotated
    * (MediaBox axes swapped for 90/270) and `rotate` is its page dict entry. */
  private def classic(pages: Seq[PageSpec], resources: String,
                      content: PageSpec => Array[Byte] = contentFor(_), lzw: Boolean = false,
                      rot: Int = 0, rotate: String = "", pagesExtra: String = "")
                     (tail: PdfWriter => Unit = _ => ()): Array[Byte] = {
    val w = new PdfWriter("1.4")
    w.obj(1, catalog)
    w.obj(2, pagesNode(pages.indices.map(3 + 2 * _), pagesExtra))
    for ((p, i) <- pages.zipWithIndex) {
      val (ws, hs) = stored(p, rot)
      w.obj(3 + 2 * i, pageDict(ws, hs, 4 + 2 * i, resources, rotate))
      w.content(4 + 2 * i, p, content(p), lzw)
    }
    tail(w)
    w.finish()
  }

  /** PDF 1.5 layout: catalog, pages-tree, and page dicts live inside a
    * compressed `/Type /ObjStm` object stream (ISO 32000 §7.5.7), content
    * streams stay top-level, and the cross-reference is an xref STREAM
    * (`/Type /XRef`, `/W [1 4 2]`) — the modern writer shape whose page
    * dicts a plain `N G obj` scan cannot see. Object layout: 3+2i = page i,
    * 4+2i = content i (top level), S = the ObjStm (holding 1, 2, pages),
    * S+1 = the xref stream. */
  def buildObjStm(pages: Seq[PageSpec]): Array[Byte] = buildObjStm(pages, predict = false)

  /** As [[buildObjStm]] but the object stream is PNG-Up-predicted before
    * Flate (`/DecodeParms << /Predictor 12 /Columns 24 >>`) — the layout
    * xref/ObjStm writers commonly emit. */
  def buildObjStmPredicted(pages: Seq[PageSpec]): Array[Byte] =
    buildObjStm(pages, predict = true)

  /** As [[buildObjStm]] but every page dict carries `/Rotate N 0 R` whose
    * target is a bare integer object CONTAINED IN the ObjStm — pins
    * indirect-scalar resolution through the object-stream primitive path.
    * Content is authored upright (rot 180 flips geometry, not glyphs), so
    * only use 180 when asserting text equality. */
  def buildObjStmRotated(pages: Seq[PageSpec], rot: Int): Array[Byte] =
    buildObjStm(pages, predict = false, rotate = rot)

  private def buildObjStm(pages: Seq[PageSpec], predict: Boolean,
                          rotate: Int = 0): Array[Byte] = {
    val n = pages.length
    val stmNum = 3 + 2 * n
    val xrefNum = stmNum + 1

    // bodies of the compressed objects (1 = catalog, 2 = pages, 3+2i = pages,
    // optionally stmNum+2 = the bare rotate integer)
    val rotNum = stmNum + 2
    val rotEntry = if (rotate != 0) s"/Rotate $rotNum 0 R " else ""
    val contained: Seq[(Int, String)] =
      ((1, catalog) +: (2, pagesNode(pages.indices.map(3 + 2 * _))) +:
      pages.zipWithIndex.map { case (p, i) =>
        (3 + 2 * i, pageDict(p.w, p.h, 4 + 2 * i, s"/Font << $helvetica >>", rotEntry))
      }) ++ (if (rotate != 0) Seq((rotNum, s"$rotate")) else Seq.empty)
    val bodies = contained.map(_._2 + "\n")
    val offs = bodies.scanLeft(0)(_ + _.length).init
    val header = contained.zip(offs).map { case ((num, _), o) => s"$num $o" }
      .mkString(" ") + "\n"
    val stmPlain = latin1(header + bodies.mkString)
    val stmData =
      if (predict) deflate(pngUpPredict(stmPlain, 24)) else deflate(stmPlain)
    val parms = if (predict) " /DecodeParms << /Predictor 12 /Columns 24 >>" else ""

    val w = new PdfWriter("1.5")
    for ((p, i) <- pages.zipWithIndex) w.content(4 + 2 * i, p, contentFor(p))
    w.stream(stmNum, s"<< /Type /ObjStm /N ${contained.length} " +
      s"/First ${header.length} /Length ${stmData.length} /Filter /FlateDecode$parms >>",
      stmData)

    // xref stream: W [1 4 2]; type 0 = free, 1 = at offset, 2 = in ObjStm.
    // The offset field is 4 bytes: a 2-byte field silently stores
    // offset mod 65536 for any object past byte 65535 — invisible to the
    // repo's own linear-scan parser but wrong for the conforming viewer
    // this fixture is meant to model
    val xrefOff = w.size
    w.offsets(xrefNum) = xrefOff
    // /Size must cover EVERY object, including the ObjStm-contained bare
    // rotate integer (rotNum = xrefNum+1 when rotate != 0) — an object
    // outside the xref's /Size resolves to null in a conforming viewer,
    // which would leave the page unrotated and invert the fixture's purpose
    val maxNum = math.max(xrefNum, contained.map(_._1).max)
    val entries = new ByteArrayOutputStream()
    def entry(t: Int, f2: Int, f3: Int): Unit = {
      entries.write(t); entries.write(be32(f2)); entries.write(be16(f3))
    }
    val inStmIdx = contained.map(_._1).zipWithIndex.toMap
    for (num <- 0 to maxNum) {
      // free head: field2 = next free object (0), field3 = generation
      // (65535) — ISO 32000 Table 18; the classic-table form
      // `0000000000 65535 f` in the same order
      if (num == 0) entry(0, 0, 0xffff)
      else inStmIdx.get(num) match {
        case Some(idx) => entry(2, stmNum, idx)
        case None => entry(1, w.offsets.getOrElse(num, 0), 0)
      }
    }
    val xd = entries.toByteArray
    w.stream(xrefNum, s"<< /Type /XRef /Size ${maxNum + 1} /W [1 4 2] " +
      s"/Root 1 0 R /Length ${xd.length} >>", xd)
    w.startxref(xrefOff)
  }

  /** `p` with every shown line re-encoded by `f`. */
  private def encodeLines(p: PageSpec, f: String => String): PageSpec =
    p.copy(blocks = p.blocks.map(b => b.copy(lines = b.lines.map(f))))

  // ---- custom-encoded font + /ToUnicode CMap ------------------------------

  /** Code mapping for the ToUnicode variant: printable ASCII c (0x20..0x7E)
    * is stored as code c+0x80; the digraph "fi" is stored as the single code
    * 0x1F mapped to TWO codepoints (the subset-font ligature case). Without
    * the CMap these bytes decode Latin-ish to garbage — exactly the failure
    * the CMap path fixes. */
  private def encodeCustom(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s.charAt(i) == 'f' && s.charAt(i + 1) == 'i') {
        sb.append(0x1f.toChar); i += 2
      } else {
        val c = s.charAt(i)
        sb.append(if (c >= 0x20 && c <= 0x7e) (c + 0x80).toChar else c)
        i += 1
      }
    }
    sb.toString
  }

  private val toUnicodeCMap: String =
    """/CIDInit /ProcSet findresource begin
      |12 dict begin
      |begincmap
      |/CMapName /GRAFT-Custom-UCS2 def
      |/CMapType 2 def
      |1 begincodespacerange
      |<00> <FF>
      |endcodespacerange
      |1 beginbfrange
      |<A0> <FE> <0020>
      |endbfrange
      |1 beginbfchar
      |<1F> <00660069>
      |endbfchar
      |endcmap
      |CMapName currentdict /CMap defineresource pop
      |end
      |end
      |""".stripMargin

  /** Classic layout but the font is a subset-embedded custom encoding with a
    * /ToUnicode CMap: shows carry remapped bytes, the CMap restores the real
    * text (ISO 32000 §9.10.3). Object layout: 1 = catalog, 2 = pages,
    * 3+2i = page i, 4+2i = content i, F = font, F+1 = CMap stream. */
  def buildToUnicode(pages: Seq[PageSpec]): Array[Byte] = {
    val fontNum = 3 + 2 * pages.length
    val cmapNum = fontNum + 1
    classic(pages, s"/Font << /F1 $fontNum 0 R >>",
      p => contentFor(encodeLines(p, encodeCustom))) { w =>
      w.obj(fontNum, s"<< /Type /Font /Subtype /TrueType /BaseFont /GRAFT+Custom " +
        s"/ToUnicode $cmapNum 0 R >>")
      val cm = deflate(latin1(toUnicodeCMap))
      w.stream(cmapNum, s"<< /Length ${cm.length} /Filter /FlateDecode >>", cm)
    }
  }

  // ---- simple-font /Encoding + /Differences fixture -----------------------

  /** Byte remap for the Differences variant: the five most frequent letters
    * plus 's' are stored at codes 0x80-0x85 and restored by a /Differences
    * array (0x85 via the `uni0073` name convention — that resolution path
    * stays golden-covered too). A parser that ignores /Differences emits
    * cp1252 punctuation garbage for every remapped letter. */
  private def encodeDiff(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      sb.append(s.charAt(i) match {
        case 'e' => 0x80.toChar
        case 't' => 0x81.toChar
        case 'a' => 0x82.toChar
        case 'o' => 0x83.toChar
        case 'n' => 0x84.toChar
        case 's' => 0x85.toChar
        case c => c
      })
      i += 1
    }
    sb.toString
  }

  private val diffEncodingDict =
    "/Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding " +
      "/Differences [ 128 /e /t /a /o /n /uni0073 ] >>"

  /** Classic layout but the font carries an /Encoding dict with a
    * /Differences array and NO /ToUnicode (ISO 32000-1 §9.6.6 + Appendix D)
    * — the common simple-font shape for subset-embedded Type1 fonts. Show
    * bytes 0x80-0x85 only decode to the right letters through the
    * Differences table. Object layout: 1 = catalog, 2 = pages, 3+2i = page,
    * 4+2i = content, F = the encoded font. */
  def buildEncodedDiff(pages: Seq[PageSpec]): Array[Byte] = {
    val fontNum = 3 + 2 * pages.length
    classic(pages, s"/Font << /F1 $fontNum 0 R >>",
      p => contentFor(encodeLines(p, encodeDiff))) { w =>
      w.obj(fontNum, s"<< /Type /Font /Subtype /Type1 /BaseFont /GRAFT+Diff " +
        s"$diffEncodingDict >>")
    }
  }

  // ---- Identity-H CID font WITHOUT /ToUnicode (spec fixture) --------------

  /** Minimal sfnt font program carrying only a `cmap` table (public TrueType
    * layout), mapping each (char, gid) pair via format 4 (one single-char
    * segment per pair + the mandatory 0xFFFF terminator) or format 12 (one
    * group per pair). Enough structure for a cmap reader; expected text is
    * authored from the mapping, never from running the parser under test. */
  def buildTtfCmap(charToGid: Seq[(Int, Int)], format: Int = 4): Array[Byte] = {
    val pairs = charToGid.sortBy(_._1)
    val sub = new ByteArrayOutputStream()
    def w16(v: Int): Unit = sub.write(be16(v), 0, 2)
    def w32(v: Long): Unit = sub.write(be32(v), 0, 4)
    if (format == 4) {
      val segs = pairs.map { case (c, g) => (c, c, (g - c) & 0xffff) } :+
        ((0xffff, 0xffff, 1)) // terminator segment (maps to gid 0)
      val segCount = segs.length
      val len = 16 + 8 * segCount
      var sr = 2; var es = 0
      while (sr * 2 <= segCount * 2) { sr *= 2; es += 1 }
      w16(4); w16(len); w16(0) // format, length, language
      // entrySelector = floor(log2(segCount)) — es already counts the
      // doublings, no -1 (searchRange = 2*2^es, rangeShift = 2*segCount-sr)
      w16(segCount * 2); w16(sr); w16(es); w16(segCount * 2 - sr)
      segs.foreach { case (_, e, _) => w16(e) }
      w16(0) // reservedPad
      segs.foreach { case (s, _, _) => w16(s) }
      segs.foreach { case (_, _, d) => w16(d) }
      segs.foreach(_ => w16(0)) // idRangeOffset: all delta-form
    } else {
      w16(12); w16(0); w32(16 + 12L * pairs.length); w32(0); w32(pairs.length)
      pairs.foreach { case (c, g) => w32(c); w32(c); w32(g) }
    }
    wrapSfnt(sub.toByteArray)
  }

  /** Format-4 subtable whose single REAL segment is the spec-mandated final
    * one (endCode 0xFFFF), delta-mapping chars `start..0xFFFE` to gids
    * `gid0..`: the spec allows the final segment to carry real mappings, and
    * a parser that drops every end==0xFFFF segment loses all of them.
    * Expected mapping is authored here, never read back from the parser. */
  def buildTtfCmapFinalRange(start: Int, gid0: Int): Array[Byte] = {
    require(start >= 0 && start < 0xffff)
    val sub = new ByteArrayOutputStream()
    def w16(v: Int): Unit = sub.write(be16(v), 0, 2)
    val segCount = 1
    w16(4); w16(16 + 8 * segCount); w16(0) // format, length, language
    w16(segCount * 2); w16(2); w16(0); w16(0) // searchRange fields for 1 seg
    w16(0xffff) // endCode
    w16(0) // reservedPad
    w16(start) // startCode
    w16((gid0 - start) & 0xffff) // idDelta
    w16(0) // idRangeOffset: delta form
    wrapSfnt(sub.toByteArray)
  }

  /** sfnt container (version 1.0, ONE `cmap` table with a single (3,1)
    * encoding record) around a raw cmap subtable. */
  private def wrapSfnt(subBytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(be32(0x00010000L), 0, 4)
    out.write(be16(1), 0, 2) // numTables
    out.write(be16(16), 0, 2); out.write(be16(0), 0, 2); out.write(be16(0), 0, 2)
    out.write("cmap".getBytes(StandardCharsets.US_ASCII), 0, 4)
    out.write(be32(0), 0, 4) // checksum (not validated here)
    out.write(be32(28), 0, 4) // offset: 12 header + 16 directory
    out.write(be32(12L + subBytes.length), 0, 4) // length
    // cmap header: version 0, 1 encoding record: (3, 1) -> subtable at +12
    out.write(be16(0), 0, 2); out.write(be16(1), 0, 2)
    out.write(be16(3), 0, 2); out.write(be16(1), 0, 2); out.write(be32(12), 0, 4)
    out.write(subBytes, 0, subBytes.length)
    out.toByteArray
  }

  /** Deterministic char → gid assignment for [[buildIdentityCidEmbedded]]:
    * distinct chars of `text` in code-point order, gids from 0x40 up. */
  def cidAssignment(text: String): Seq[(Int, Int)] =
    text.distinct.sorted.zipWithIndex.map { case (c, i) => (c.toInt, 0x40 + i) }

  /** Page content plus one /C2 show of the 2-byte glyph ids `showHex` near
    * the bottom margin. */
  private def withCidShow(p: PageSpec, showHex: String): Array[Byte] =
    contentFor(p) ++ latin1(s"BT\n/C2 12 Tf\n50 10 Td\n<$showHex> Tj\nET\n")

  /** Like [[buildIdentityCid]] (Identity-H composite font, NO /ToUnicode)
    * but the descendant font embeds a real font program (/FontFile2, Flate)
    * whose cmap covers `cidText` — the extractor can recover the show by
    * reversing the embedded cmap. The glyph ids in the content stream come
    * from [[cidAssignment]], so the expected text is authored. */
  def buildIdentityCidEmbedded(pages: Seq[PageSpec], cidText: String,
                               cmapFormat: Int = 4): Array[Byte] = {
    val assign = cidAssignment(cidText).toMap
    val showHex = cidText.map(c => f"${assign(c.toInt)}%04X").mkString
    val ttf = buildTtfCmap(cidAssignment(cidText), cmapFormat)
    val cidNum = 3 + 2 * pages.length
    val descNum = cidNum + 1
    val fdNum = cidNum + 2
    val ffNum = cidNum + 3
    classic(pages, s"/Font << $helvetica /C2 $cidNum 0 R >>",
      withCidShow(_, showHex)) { w =>
      w.obj(cidNum, "<< /Type /Font /Subtype /Type0 /BaseFont /GRAFT+CID " +
        s"/Encoding /Identity-H /DescendantFonts [$descNum 0 R] >>")
      w.obj(descNum, "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /GRAFT+CID " +
        s"/CIDToGIDMap /Identity /FontDescriptor $fdNum 0 R >>")
      w.obj(fdNum, s"<< /Type /FontDescriptor /FontName /GRAFT+CID /FontFile2 $ffNum 0 R >>")
      val ffData = deflate(ttf)
      w.stream(ffNum, s"<< /Length ${ffData.length} /Length1 ${ttf.length} " +
        "/Filter /FlateDecode >>", ffData)
    }
  }

  /** Classic layout with TWO fonts: /F1 Helvetica carries the real blocks;
    * /C2 is a composite Type0 `/Encoding /Identity-H` font with NO
    * /ToUnicode whose show (2-byte glyph ids) is appended to every page.
    * The extractor must DROP the C2 show (glyph ids carry no recoverable
    * text) and flag the document pdf_partial — never emit the ids as
    * mojibake. Used by RealPdfSpec, deliberately NOT in the golden corpus
    * (golden docs assert status "ok"). */
  def buildIdentityCid(pages: Seq[PageSpec]): Array[Byte] = {
    val cidNum = 3 + 2 * pages.length
    classic(pages, s"/Font << $helvetica /C2 $cidNum 0 R >>",
      withCidShow(_, "0048006500470042")) { w =>
      w.obj(cidNum, "<< /Type /Font /Subtype /Type0 /BaseFont /GRAFT+CID " +
        "/Encoding /Identity-H >>")
    }
  }

  /** One image drawn on a page: placement rect in top-down coordinates (like
    * Placed), authored pixel dims (w, h), and the payload. `dct` = embed the
    * bytes as-is under /Filter /DCTDecode (the bytes must BE a JPEG file —
    * MediaFixtures.jpeg); otherwise the bytes are raw gray samples deflated
    * under /Filter /FlateDecode. */
  final case class PlacedImage(x: Int, yTop: Int, drawW: Int, drawH: Int,
                               w: Int, h: Int, data: Array[Byte], dct: Boolean)

  /** Image-bearing page: text blocks + image XObjects named /Im0, /Im1, …
    * drawn with `q  drawW 0 0 drawH x y cm  /ImN Do  Q` — the standard writer
    * form. Expected placements/captions are authored from construction, never
    * from running the extractor. Content streams are always Flate. */
  def buildWithImages(pages: Seq[(PageSpec, Seq[PlacedImage])]): Array[Byte] = {
    // numbering: 1 catalog, 2 pages; per page: page, content, then its images
    val firstNum = pages.scanLeft(3)((num, page) => num + 2 + page._2.length).init
    val w = new PdfWriter("1.4")
    w.obj(1, catalog)
    w.obj(2, pagesNode(firstNum))
    for (((p, imgs), pageNum) <- pages.zip(firstNum)) {
      val contNum = pageNum + 1
      val xo = imgs.indices.map(k => s"/Im$k ${contNum + 1 + k} 0 R").mkString(" ")
      w.obj(pageNum, pageDict(p.w, p.h, contNum,
        s"/Font << $helvetica >> /XObject << $xo >>"))
      val sb = new java.lang.StringBuilder()
      sb.append(new String(contentFor(p), StandardCharsets.ISO_8859_1))
      for ((im, k) <- imgs.zipWithIndex) {
        val y0 = p.h - im.yTop - im.drawH // bottom edge, bottom-up coords
        sb.append("q\n").append(im.drawW).append(" 0 0 ").append(im.drawH)
          .append(' ').append(im.x).append(' ').append(y0).append(" cm\n")
          .append("/Im").append(k).append(" Do\nQ\n")
      }
      val data = deflate(latin1(sb.toString))
      w.stream(contNum, s"<< /Length ${data.length} /Filter /FlateDecode >>", data)
      for ((im, k) <- imgs.zipWithIndex) {
        val (data, fdecl, cs) =
          if (im.dct) (im.data, "/DCTDecode", "/DeviceRGB")
          else (deflate(im.data), "/FlateDecode", "/DeviceGray")
        w.stream(contNum + 1 + k,
          s"<< /Type /XObject /Subtype /Image /Width ${im.w} /Height ${im.h} " +
          s"/ColorSpace $cs /BitsPerComponent 8 /Filter $fdecl " +
          s"/Length ${data.length} >>", data)
      }
    }
    w.finish()
  }

  /** As [[build]] but every page is STORED rotated: the MediaBox axes swap
    * for 90/270, the page dict carries `/Rotate rot`, and the content stream
    * places text in raw (pre-rotation) user space — the upright twin of
    * `build(pages)` under a conforming viewer. Exists so RealPdfSpec can
    * assert byte-identical extraction between a page and its rotated twin.
    * `inheritRotate` puts /Rotate on the pages node instead (ISO 32000
    * §7.7.3.4 inheritable attribute, reaching each page via /Parent);
    * `indirectRotate` makes it `/Rotate N 0 R`, N a bare integer object
    * (ISO 32000 §7.3.10 — any dict value may be an indirect reference). */
  def buildRotated(pages: Seq[PageSpec], rot: Int,
                   inheritRotate: Boolean = false,
                   indirectRotate: Boolean = false): Array[Byte] = {
    require(Seq(90, 180, 270).contains(rot), s"rot $rot")
    require(!(inheritRotate && indirectRotate), "pick one /Rotate placement")
    val rotObj = 3 + 2 * pages.length
    val rotEntry =
      if (inheritRotate) ""
      else if (indirectRotate) s"/Rotate $rotObj 0 R "
      else s"/Rotate $rot "
    classic(pages, s"/Font << $helvetica >>", contentFor(_, rot), rot = rot,
      rotate = rotEntry, pagesExtra = if (inheritRotate) s" /Rotate $rot" else "") { w =>
      if (indirectRotate) w.obj(rotObj, s"$rot")
    }
  }

  /** Build the PDF bytes. Object layout: 1 = catalog, 2 = pages,
    * 3+2i = page i, 4+2i = its content stream. `filter` selects the
    * compressed-stream codec: "flate" (default) or "lzw"; any other name
    * is rejected. */
  def build(pages: Seq[PageSpec]): Array[Byte] = build(pages, "flate")

  def buildLzw(pages: Seq[PageSpec]): Array[Byte] = build(pages, "lzw")

  def build(pages: Seq[PageSpec], filter: String): Array[Byte] = {
    require(filter == "flate" || filter == "lzw", s"unknown codec '$filter': flate or lzw")
    classic(pages, s"/Font << $helvetica >>", lzw = filter == "lzw")()
  }
}
