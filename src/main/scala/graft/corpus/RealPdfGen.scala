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

  /** Content stream for one page: one BT/ET per block, lines via Td steps.
    * Baseline of a line at top-down y is (pageH - y - fontSize) in PDF
    * bottom-up coordinates — the inverse of the extractor's flip, so the
    * extractor's PBlock (x, y) reproduces (x, yTop) exactly. Even lines show
    * as escaped literals, odd lines as hex strings inside TJ arrays — both
    * writer forms stay golden-covered. */
  private def contentFor(p: PageSpec): Array[Byte] = {
    val sb = new java.lang.StringBuilder()
    for (b <- p.blocks) {
      val leading = b.fontSize + 2
      val y0 = p.h - b.yTop - b.fontSize
      sb.append("BT\n/F1 ").append(b.fontSize).append(" Tf\n")
        .append(b.x).append(' ').append(y0).append(" Td\n")
      for ((line, idx) <- b.lines.zipWithIndex) {
        if (idx > 0) sb.append("0 -").append(leading).append(" Td\n")
        if (idx % 2 == 0) sb.append('(').append(esc(line)).append(") Tj\n")
        else sb.append("[<").append(hex(line)).append(">] TJ\n")
      }
      sb.append("ET\n")
    }
    sb.toString.getBytes(StandardCharsets.ISO_8859_1)
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

  /** PDF 1.5 layout: catalog, pages-tree, and page dicts live inside a
    * compressed `/Type /ObjStm` object stream (ISO 32000 §7.5.7), content
    * streams stay top-level, and the cross-reference is an xref STREAM
    * (`/Type /XRef`, `/W [1 2 2]`) — the modern writer shape whose page
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
    val out = new ByteArrayOutputStream(4096)
    def put(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    val n = pages.length
    val stmNum = 3 + 2 * n
    val xrefNum = stmNum + 1

    // bodies of the compressed objects (1 = catalog, 2 = pages, 3+2i = pages,
    // optionally stmNum+2 = the bare rotate integer)
    val rotNum = stmNum + 2
    val kids = pages.indices.map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    val rotEntry = if (rotate != 0) s"/Rotate $rotNum 0 R " else ""
    val contained: Seq[(Int, String)] =
      ((1, "<< /Type /Catalog /Pages 2 0 R >>") +:
      (2, s"<< /Type /Pages /Kids [$kids] /Count $n >>") +:
      pages.zipWithIndex.map { case (p, i) =>
        (3 + 2 * i,
          s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 ${p.w} ${p.h}] " +
          rotEntry +
          s"/Contents ${4 + 2 * i} 0 R /Resources << /Font << /F1 << /Type /Font " +
          "/Subtype /Type1 /BaseFont /Helvetica >> >> >> >>")
      }) ++ (if (rotate != 0) Seq((rotNum, s"$rotate")) else Seq.empty)
    val bodies = contained.map(_._2 + "\n")
    val offs = bodies.scanLeft(0)(_ + _.length).init
    val header = contained.zip(offs).map { case ((num, _), o) => s"$num $o" }
      .mkString(" ") + "\n"
    val stmPlain = (header + bodies.mkString).getBytes(StandardCharsets.ISO_8859_1)
    val stmData =
      if (predict) deflate(pngUpPredict(stmPlain, 24)) else deflate(stmPlain)
    val parms = if (predict) " /DecodeParms << /Predictor 12 /Columns 24 >>" else ""

    val offsets = scala.collection.mutable.HashMap.empty[Int, Int] // objnum → byte offset
    put("%PDF-1.5\n")
    for ((p, i) <- pages.zipWithIndex) {
      val contNum = 4 + 2 * i
      offsets(contNum) = out.size()
      val raw = contentFor(p)
      val (data, filter) =
        if (p.compress) (deflate(raw), " /Filter /FlateDecode") else (raw, "")
      put(s"$contNum 0 obj\n<< /Length ${data.length}$filter >>\nstream\n")
      out.write(data)
      put("\nendstream\nendobj\n")
    }
    offsets(stmNum) = out.size()
    put(s"$stmNum 0 obj\n<< /Type /ObjStm /N ${contained.length} " +
      s"/First ${header.length} /Length ${stmData.length} /Filter /FlateDecode$parms >>\nstream\n")
    out.write(stmData)
    put("\nendstream\nendobj\n")

    // xref stream: W [1 4 2]; type 0 = free, 1 = at offset, 2 = in ObjStm.
    // The offset field is 4 bytes: a 2-byte field silently stores
    // offset mod 65536 for any object past byte 65535 — invisible to the
    // repo's own linear-scan parser but wrong for the conforming viewer
    // this fixture is meant to model
    val xrefOff = out.size()
    offsets(xrefNum) = xrefOff
    // /Size must cover EVERY object, including the ObjStm-contained bare
    // rotate integer (rotNum = xrefNum+1 when rotate != 0) — an object
    // outside the xref's /Size resolves to null in a conforming viewer,
    // which would leave the page unrotated and invert the fixture's purpose
    val maxNum = math.max(xrefNum, contained.map(_._1).max)
    val entries = new ByteArrayOutputStream()
    def entry(t: Int, f2: Int, f3: Int): Unit = {
      entries.write(t)
      entries.write((f2 >> 24) & 0xff); entries.write((f2 >> 16) & 0xff)
      entries.write((f2 >> 8) & 0xff); entries.write(f2 & 0xff)
      entries.write((f3 >> 8) & 0xff); entries.write(f3 & 0xff)
    }
    val inStmIdx = contained.map(_._1).zipWithIndex.toMap
    for (num <- 0 to maxNum) {
      // free head: field2 = next free object (0), field3 = generation
      // (65535) — ISO 32000 Table 18; the classic-table form
      // `0000000000 65535 f` in the same order
      if (num == 0) entry(0, 0, 0xffff)
      else inStmIdx.get(num) match {
        case Some(idx) => entry(2, stmNum, idx)
        case None => entry(1, offsets.getOrElse(num, 0), 0)
      }
    }
    val xd = entries.toByteArray
    put(s"$xrefNum 0 obj\n<< /Type /XRef /Size ${maxNum + 1} /W [1 4 2] " +
      s"/Root 1 0 R /Length ${xd.length} >>\nstream\n")
    out.write(xd)
    put("\nendstream\nendobj\n")
    put(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

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
    val out = new ByteArrayOutputStream(4096)
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def put(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    def beginObj(num: Int): Unit = { offsets += out.size(); put(s"$num 0 obj\n") }
    val n = pages.length
    val fontNum = 3 + 2 * n
    val cmapNum = fontNum + 1

    put("%PDF-1.4\n")
    beginObj(1)
    put("<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    val kids = pages.indices.map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    beginObj(2)
    put(s"<< /Type /Pages /Kids [$kids] /Count $n >>\nendobj\n")
    for ((p, i) <- pages.zipWithIndex) {
      val pageNum = 3 + 2 * i
      val contNum = 4 + 2 * i
      beginObj(pageNum)
      put(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 ${p.w} ${p.h}] " +
        s"/Contents $contNum 0 R /Resources << /Font << /F1 $fontNum 0 R >> >> >>\nendobj\n")
      val encoded = p.copy(blocks = p.blocks.map(b =>
        b.copy(lines = b.lines.map(encodeCustom))))
      val raw = contentFor(encoded)
      val (data, filter) =
        if (p.compress) (deflate(raw), " /Filter /FlateDecode") else (raw, "")
      beginObj(contNum)
      put(s"<< /Length ${data.length}$filter >>\nstream\n")
      out.write(data)
      put("\nendstream\nendobj\n")
    }
    beginObj(fontNum)
    put(s"<< /Type /Font /Subtype /TrueType /BaseFont /GRAFT+Custom " +
      s"/ToUnicode $cmapNum 0 R >>\nendobj\n")
    val cm = deflate(toUnicodeCMap.getBytes(StandardCharsets.ISO_8859_1))
    beginObj(cmapNum)
    put(s"<< /Length ${cm.length} /Filter /FlateDecode >>\nstream\n")
    out.write(cm)
    put("\nendstream\nendobj\n")
    val xrefOff = out.size()
    val total = offsets.length + 1
    put(s"xref\n0 $total\n0000000000 65535 f \n")
    for (o <- offsets)
      put(String.format(java.util.Locale.ROOT, "%010d 00000 n \n", Integer.valueOf(o)))
    put(s"trailer\n<< /Size $total /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
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
    val out = new ByteArrayOutputStream(4096)
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def put(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    def beginObj(num: Int): Unit = { offsets += out.size(); put(s"$num 0 obj\n") }
    val n = pages.length
    val fontNum = 3 + 2 * n

    put("%PDF-1.4\n")
    beginObj(1)
    put("<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    val kids = pages.indices.map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    beginObj(2)
    put(s"<< /Type /Pages /Kids [$kids] /Count $n >>\nendobj\n")
    for ((p, i) <- pages.zipWithIndex) {
      val pageNum = 3 + 2 * i
      val contNum = 4 + 2 * i
      beginObj(pageNum)
      put(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 ${p.w} ${p.h}] " +
        s"/Contents $contNum 0 R /Resources << /Font << /F1 $fontNum 0 R >> >> >>\nendobj\n")
      val encoded = p.copy(blocks = p.blocks.map(b =>
        b.copy(lines = b.lines.map(encodeDiff))))
      val raw = contentFor(encoded)
      val (data, filter) =
        if (p.compress) (deflate(raw), " /Filter /FlateDecode") else (raw, "")
      beginObj(contNum)
      put(s"<< /Length ${data.length}$filter >>\nstream\n")
      out.write(data)
      put("\nendstream\nendobj\n")
    }
    beginObj(fontNum)
    put(s"<< /Type /Font /Subtype /Type1 /BaseFont /GRAFT+Diff " +
      s"$diffEncodingDict >>\nendobj\n")
    val xrefOff = out.size()
    val total = offsets.length + 1
    put(s"xref\n0 $total\n0000000000 65535 f \n")
    for (o <- offsets)
      put(String.format(java.util.Locale.ROOT, "%010d 00000 n \n", Integer.valueOf(o)))
    put(s"trailer\n<< /Size $total /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  // ---- Identity-H CID font WITHOUT /ToUnicode (spec fixture) --------------

  /** Classic layout with TWO fonts: /F1 Helvetica carries the real blocks;
    * /C2 is a composite Type0 `/Encoding /Identity-H` font with NO
    * /ToUnicode whose show (2-byte glyph ids) is appended to every page.
    * The extractor must DROP the C2 show (glyph ids carry no recoverable
    * text) and flag the document pdf_partial — never emit the ids as
    * mojibake. Used by RealPdfSpec, deliberately NOT in the golden corpus
    * (golden docs assert status "ok"). */
  /** Minimal sfnt font program carrying only a `cmap` table (public TrueType
    * layout), mapping each (char, gid) pair via format 4 (one single-char
    * segment per pair + the mandatory 0xFFFF terminator) or format 12 (one
    * group per pair). Enough structure for a cmap reader; expected text is
    * authored from the mapping, never from running the parser under test. */
  def buildTtfCmap(charToGid: Seq[(Int, Int)], format: Int = 4): Array[Byte] = {
    val pairs = charToGid.sortBy(_._1)
    def be16(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be32(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
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
    def w16(v: Int): Unit = sub.write(be16s(v), 0, 2)
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

  private def be16s(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** sfnt container (version 1.0, ONE `cmap` table with a single (3,1)
    * encoding record) around a raw cmap subtable. */
  private def wrapSfnt(subBytes: Array[Byte]): Array[Byte] = {
    def be16(v: Int) = be16s(v)
    def be32(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
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
    val out = new ByteArrayOutputStream(4096)
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def put(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    def beginObj(num: Int): Unit = { offsets += out.size(); put(s"$num 0 obj\n") }
    val n = pages.length
    val cidNum = 3 + 2 * n
    val descNum = cidNum + 1
    val fdNum = cidNum + 2
    val ffNum = cidNum + 3
    put("%PDF-1.4\n")
    beginObj(1)
    put("<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    val kids = pages.indices.map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    beginObj(2)
    put(s"<< /Type /Pages /Kids [$kids] /Count $n >>\nendobj\n")
    for ((p, i) <- pages.zipWithIndex) {
      val pageNum = 3 + 2 * i
      val contNum = 4 + 2 * i
      beginObj(pageNum)
      put(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 ${p.w} ${p.h}] " +
        s"/Contents $contNum 0 R /Resources << /Font << /F1 << /Type /Font " +
        s"/Subtype /Type1 /BaseFont /Helvetica >> /C2 $cidNum 0 R >> >> >>\nendobj\n")
      val raw = contentFor(p) ++
        s"BT\n/C2 12 Tf\n50 10 Td\n<$showHex> Tj\nET\n"
          .getBytes(StandardCharsets.ISO_8859_1)
      val (data, filter) =
        if (p.compress) (deflate(raw), " /Filter /FlateDecode") else (raw, "")
      beginObj(contNum)
      put(s"<< /Length ${data.length}$filter >>\nstream\n")
      out.write(data)
      put("\nendstream\nendobj\n")
    }
    beginObj(cidNum)
    put("<< /Type /Font /Subtype /Type0 /BaseFont /GRAFT+CID " +
      s"/Encoding /Identity-H /DescendantFonts [$descNum 0 R] >>\nendobj\n")
    beginObj(descNum)
    put("<< /Type /Font /Subtype /CIDFontType2 /BaseFont /GRAFT+CID " +
      s"/CIDToGIDMap /Identity /FontDescriptor $fdNum 0 R >>\nendobj\n")
    beginObj(fdNum)
    put(s"<< /Type /FontDescriptor /FontName /GRAFT+CID /FontFile2 $ffNum 0 R >>\nendobj\n")
    val ffData = deflate(ttf)
    beginObj(ffNum)
    put(s"<< /Length ${ffData.length} /Length1 ${ttf.length} /Filter /FlateDecode >>\nstream\n")
    out.write(ffData)
    put("\nendstream\nendobj\n")
    val xrefOff = out.size()
    val total = offsets.length + 1
    put(s"xref\n0 $total\n0000000000 65535 f \n")
    for (o <- offsets)
      put(String.format(java.util.Locale.ROOT, "%010d 00000 n \n", Integer.valueOf(o)))
    put(s"trailer\n<< /Size $total /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  def buildIdentityCid(pages: Seq[PageSpec]): Array[Byte] = {
    val out = new ByteArrayOutputStream(4096)
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def put(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    def beginObj(num: Int): Unit = { offsets += out.size(); put(s"$num 0 obj\n") }
    val n = pages.length
    val cidNum = 3 + 2 * n

    put("%PDF-1.4\n")
    beginObj(1)
    put("<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    val kids = pages.indices.map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    beginObj(2)
    put(s"<< /Type /Pages /Kids [$kids] /Count $n >>\nendobj\n")
    for ((p, i) <- pages.zipWithIndex) {
      val pageNum = 3 + 2 * i
      val contNum = 4 + 2 * i
      beginObj(pageNum)
      put(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 ${p.w} ${p.h}] " +
        s"/Contents $contNum 0 R /Resources << /Font << /F1 << /Type /Font " +
        s"/Subtype /Type1 /BaseFont /Helvetica >> /C2 $cidNum 0 R >> >> >>\nendobj\n")
      // normal blocks + one Identity-H show of 2-byte glyph ids near the
      // bottom margin
      val raw = contentFor(p) ++
        s"BT\n/C2 12 Tf\n50 10 Td\n<0048006500470042> Tj\nET\n"
          .getBytes(StandardCharsets.ISO_8859_1)
      val (data, filter) =
        if (p.compress) (deflate(raw), " /Filter /FlateDecode") else (raw, "")
      beginObj(contNum)
      put(s"<< /Length ${data.length}$filter >>\nstream\n")
      out.write(data)
      put("\nendstream\nendobj\n")
    }
    beginObj(cidNum)
    put("<< /Type /Font /Subtype /Type0 /BaseFont /GRAFT+CID " +
      "/Encoding /Identity-H >>\nendobj\n")
    val xrefOff = out.size()
    val total = offsets.length + 1
    put(s"xref\n0 $total\n0000000000 65535 f \n")
    for (o <- offsets)
      put(String.format(java.util.Locale.ROOT, "%010d 00000 n \n", Integer.valueOf(o)))
    put(s"trailer\n<< /Size $total /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  /** Build the PDF bytes. Object layout: 1 = catalog, 2 = pages,
    * 3+2i = page i, 4+2i = its content stream. `filter` selects the
    * compressed-stream codec: "flate" (default) or "lzw". */
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
    * from running the extractor. */
  def buildWithImages(pages: Seq[(PageSpec, Seq[PlacedImage])]): Array[Byte] = {
    val out = new ByteArrayOutputStream(4096)
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def put(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    def beginObj(num: Int): Unit = { offsets += out.size(); put(s"$num 0 obj\n") }

    // numbering: 1 catalog, 2 pages; per page: page, content, then its images
    val firstNum = new Array[Int](pages.length)
    var next = 3
    for (((_, imgs), i) <- pages.zipWithIndex) {
      firstNum(i) = next
      next += 2 + imgs.length
    }

    put("%PDF-1.4\n")
    beginObj(1)
    put("<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    val kids = pages.indices.map(i => s"${firstNum(i)} 0 R").mkString(" ")
    beginObj(2)
    put(s"<< /Type /Pages /Kids [$kids] /Count ${pages.length} >>\nendobj\n")
    for (((p, imgs), i) <- pages.zipWithIndex) {
      val pageNum = firstNum(i)
      val contNum = pageNum + 1
      val xo = imgs.indices.map(k => s"/Im$k ${contNum + 1 + k} 0 R").mkString(" ")
      beginObj(pageNum)
      put(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 ${p.w} ${p.h}] " +
        s"/Contents $contNum 0 R /Resources << /Font << /F1 << /Type /Font " +
        "/Subtype /Type1 /BaseFont /Helvetica >> >> " +
        s"/XObject << $xo >> >> >>\nendobj\n")
      val sb = new java.lang.StringBuilder()
      sb.append(new String(contentFor(p), StandardCharsets.ISO_8859_1))
      for ((im, k) <- imgs.zipWithIndex) {
        val y0 = p.h - im.yTop - im.drawH // bottom edge, bottom-up coords
        sb.append("q\n").append(im.drawW).append(" 0 0 ").append(im.drawH)
          .append(' ').append(im.x).append(' ').append(y0).append(" cm\n")
          .append("/Im").append(k).append(" Do\nQ\n")
      }
      val data = deflate(sb.toString.getBytes(StandardCharsets.ISO_8859_1))
      beginObj(contNum)
      put(s"<< /Length ${data.length} /Filter /FlateDecode >>\nstream\n")
      out.write(data)
      put("\nendstream\nendobj\n")
      for ((im, k) <- imgs.zipWithIndex) {
        val (data, fdecl, cs) =
          if (im.dct) (im.data, "/DCTDecode", "/DeviceRGB")
          else (deflate(im.data), "/FlateDecode", "/DeviceGray")
        beginObj(contNum + 1 + k)
        put(s"<< /Type /XObject /Subtype /Image /Width ${im.w} /Height ${im.h} " +
          s"/ColorSpace $cs /BitsPerComponent 8 /Filter $fdecl " +
          s"/Length ${data.length} >>\nstream\n")
        out.write(data)
        put("\nendstream\nendobj\n")
      }
    }
    val xrefOff = out.size()
    val n = offsets.length + 1
    put(s"xref\n0 $n\n0000000000 65535 f \n")
    for (o <- offsets)
      put(String.format(java.util.Locale.ROOT, "%010d 00000 n \n", Integer.valueOf(o)))
    put(s"trailer\n<< /Size $n /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  /** Content stream for one UPRIGHT PageSpec stored on a page that carries
    * `/Rotate rot`: every baseline is emitted at the raw user-space position
    * whose image under the viewer's clockwise rotation is the authored
    * upright position, and per-line steps follow the rotated downward
    * direction — so a conforming viewer (and the extractor's rotation
    * normalization) sees the identical upright page. Inverse maps (stored
    * page Ws×Hs, upright X,Y bottom-up): 90 → (Ws−Y, X); 180 → (Ws−X, Hs−Y);
    * 270 → (Y, Hs−X). */
  private def contentForRotated(p: PageSpec, rot: Int): Array[Byte] = {
    val (ws, hs) = if (rot == 90 || rot == 270) (p.h, p.w) else (p.w, p.h)
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
    sb.toString.getBytes(StandardCharsets.ISO_8859_1)
  }

  /** As [[build]] but every page is STORED rotated: the MediaBox axes swap
    * for 90/270, the page dict carries `/Rotate rot`, and the content stream
    * places text in raw (pre-rotation) user space — the upright twin of
    * `build(pages)` under a conforming viewer. Exists so RealPdfSpec can
    * assert byte-identical extraction between a page and its rotated twin. */
  def buildRotated(pages: Seq[PageSpec], rot: Int,
                   inheritRotate: Boolean = false,
                   indirectRotate: Boolean = false): Array[Byte] = {
    require(Seq(90, 180, 270).contains(rot), s"rot $rot")
    require(!(inheritRotate && indirectRotate), "pick one /Rotate placement")
    val out = new ByteArrayOutputStream(4096)
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def put(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    def beginObj(num: Int): Unit = { offsets += out.size(); put(s"$num 0 obj\n") }
    // indirectRotate: `/Rotate N 0 R` points at a bare integer object
    // (ISO 32000 §7.3.10 — any dict value may be an indirect reference)
    val rotObj = 3 + 2 * pages.length
    put("%PDF-1.4\n")
    beginObj(1)
    put("<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    val kids = pages.indices.map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    beginObj(2)
    // inheritRotate: /Rotate lives on the Pages NODE (ISO 32000 §7.7.3.4
    // inheritable attribute) and reaches each page via /Parent
    put(s"<< /Type /Pages /Kids [$kids] /Count ${pages.length}" +
      (if (inheritRotate) s" /Rotate $rot" else "") + " >>\nendobj\n")
    for ((p, i) <- pages.zipWithIndex) {
      val pageNum = 3 + 2 * i
      val contNum = 4 + 2 * i
      val (ws, hs) = if (rot == 90 || rot == 270) (p.h, p.w) else (p.w, p.h)
      val rotEntry =
        if (inheritRotate) ""
        else if (indirectRotate) s"/Rotate $rotObj 0 R "
        else s"/Rotate $rot "
      beginObj(pageNum)
      put(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 $ws $hs] " +
        rotEntry +
        s"/Contents $contNum 0 R /Resources << /Font << /F1 " +
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> >> >> >>\nendobj\n")
      val raw = contentForRotated(p, rot)
      val (data, fdecl) =
        if (!p.compress) (raw, "")
        else (deflate(raw), " /Filter /FlateDecode")
      beginObj(contNum)
      put(s"<< /Length ${data.length}$fdecl >>\nstream\n")
      out.write(data)
      put("\nendstream\nendobj\n")
    }
    if (indirectRotate) {
      beginObj(rotObj)
      put(s"$rot\nendobj\n")
    }
    val xrefOff = out.size()
    val n = offsets.length + 1
    put(s"xref\n0 $n\n0000000000 65535 f \n")
    for (o <- offsets)
      put(String.format(java.util.Locale.ROOT, "%010d 00000 n \n", Integer.valueOf(o)))
    put(s"trailer\n<< /Size $n /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  def build(pages: Seq[PageSpec]): Array[Byte] = build(pages, "flate")

  def buildLzw(pages: Seq[PageSpec]): Array[Byte] = build(pages, "lzw")

  def build(pages: Seq[PageSpec], filter: String): Array[Byte] = {
    val out = new ByteArrayOutputStream(4096)
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def put(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    def beginObj(num: Int): Unit = { offsets += out.size(); put(s"$num 0 obj\n") }

    put("%PDF-1.4\n")
    beginObj(1)
    put("<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    val kids = pages.indices.map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    beginObj(2)
    put(s"<< /Type /Pages /Kids [$kids] /Count ${pages.length} >>\nendobj\n")
    for ((p, i) <- pages.zipWithIndex) {
      val pageNum = 3 + 2 * i
      val contNum = 4 + 2 * i
      beginObj(pageNum)
      put(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 ${p.w} ${p.h}] " +
        s"/Contents $contNum 0 R /Resources << /Font << /F1 << /Type /Font " +
        "/Subtype /Type1 /BaseFont /Helvetica >> >> >> >>\nendobj\n")
      val raw = contentFor(p)
      val (data, fdecl) =
        if (!p.compress) (raw, "")
        else if (filter == "lzw") (lzwEncode(raw), " /Filter /LZWDecode")
        else (deflate(raw), " /Filter /FlateDecode")
      beginObj(contNum)
      put(s"<< /Length ${data.length}$fdecl >>\nstream\n")
      out.write(data)
      put("\nendstream\nendobj\n")
    }
    val xrefOff = out.size()
    val n = offsets.length + 1
    put(s"xref\n0 $n\n0000000000 65535 f \n")
    for (o <- offsets) // Locale.ROOT: %d digits localize under e.g. ar locales
      put(String.format(java.util.Locale.ROOT, "%010d 00000 n \n", Integer.valueOf(o)))
    put(s"trailer\n<< /Size $n /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }
}
