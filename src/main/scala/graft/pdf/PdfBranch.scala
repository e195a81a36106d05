package graft.pdf

import java.nio.charset.StandardCharsets

import graft.extract.{ExtractConfig, TextNormalizer}
import graft.model.{ExtractedDoc, Span}

/** PDF / layout branch.
  *
  * The reference rasterizes PDFs page-by-page and routes pages through layout
  * analysis + XY-cut reading-order recovery (check_and_read pdf explode,
  * ppocr/utils/utility.py:119-152; sorted_layout_boxes 2-column ordering,
  * ppstructure/recovery/recovery_to_doc.py:87-155; page concat,
  * ppstructure/predict_system.py:343-388). Real PDF rasterization/OCR needs
  * native libs not present here, so per FIXTURES.md F12 we define a fixed,
  * deterministic mini page-description format for tests — the Spark-side
  * plumbing (sniff-dispatch, page explode, banded XY-cut, page concat) is the
  * real deliverable:
  *
  * {{{
  * %PDF-GRAFT 1.0
  * page <width> <height>
  * block <x> <y> <w> <h> <single-line text>
  * ...
  * endpage
  * page ...
  * }}}
  *
  * Reading order per page (banded XY-cut, ≡ recovery_to_doc.py:87-155):
  * blocks sorted by (y, x); a full-width block (w*10 >= W*6) closes the current
  * band; within a band, left-column blocks (2*(x + w/2) < W) come first (by y,x),
  * then right-column blocks. Page texts join with "\n\n"; block texts join with
  * "\n\n"; all text whitespace-normalized.
  */
object PdfBranch {

  private val magic = "%PDF".getBytes(StandardCharsets.US_ASCII)

  def isPdf(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 &&
      b(0) == magic(0) && b(1) == magic(1) && b(2) == magic(2) && b(3) == magic(3)

  final case class PBlock(x: Int, y: Int, w: Int, h: Int, text: String, off: Int, end: Int)

  /** Pages of one payload + parse status, shared by the single-pass extract
    * and the per-page explode path (ChunkedExtract) so both are structurally
    * identical. `pagesTruncated` = the maxPdfPages cap fired (≡ img[:page_num],
    * tools/infer/predict_system.py:221-224); `status` = "ok" | "pdf_partial"
    * (some content streams failed to decode — the extracted text is missing
    * those pages) | "pdf_unparsed" (nothing decodable). Neither failure mode
    * is silent: lineage counts every status ≠ "ok" as unparsedDocs. */
  final case class PdfPages(pages: Vector[(Int, Vector[PBlock])], status: String,
                            pagesTruncated: Boolean, rotatedPages: Int = 0)

  /** Parse a (byte-capped) PDF payload: real PDFs via the from-scratch subset
    * parser (RealPdf), the %PDF-GRAFT mini format via the line parser. */
  def parsePayload(input: Array[Byte], cfg: ExtractConfig): PdfPages =
    if (RealPdf.isReal(input)) {
      RealPdf.parse(input, cfg.maxPdfPages) match {
        case Some(p) =>
          val pages = p.pages.map(pg => (pg.pageW, pg.blocks))
          val anyText = pages.exists(_._2.nonEmpty)
          // unmappedShows: text dropped through a CID font with no /ToUnicode
          // (glyph ids with no byte→text mapping) — same non-silent-loss
          // contract as a failed stream decode
          val status =
            if (p.decodeFailures == 0 && p.unmappedShows == 0) "ok"
            else if (anyText) "pdf_partial" // text emitted, but some is missing
            else "pdf_unparsed"
          // rotatedPages: how many pages carried /Rotate — their geometry
          // was normalized upright before the XY-cut (lineage, not a loss)
          PdfPages(pages, status, p.pagesTruncated, p.rotatedPages)
        case None => PdfPages(Vector.empty, "pdf_unparsed", pagesTruncated = false)
      }
    } else {
      val all = parsePages(input)
      val capped = all.length > cfg.maxPdfPages
      PdfPages(if (capped) all.take(cfg.maxPdfPages) else all, "ok", capped)
    }

  def extract(url: String, payload: Array[Byte], cfg: ExtractConfig): ExtractedDoc = {
    val parsed = parsePayload(cfg.capped(payload), cfg)
    val pages = parsed.pages.zipWithIndex.map { case ((w, blocks), p) => extractPage(p, w, blocks) }
    val text = pages.map(_._1).filter(_.nonEmpty).mkString("\n\n")
    val spans = pages.flatMap(_._2).zipWithIndex.map { case (s, i) => s.copy(blockIdx = i) }
    ExtractedDoc(url, text, spans.length, spans, "utf-8",
      payload.length > cfg.maxHtmlBytes || parsed.pagesTruncated, parsed.status)
  }

  /** One page's reading order → (page text, spans with page-local blockIdx).
    * The per-page step of both [[extract]] and the page explode in
    * ChunkedExtract, so the two cannot drift; callers renumber blockIdx
    * across pages and join non-empty page texts with "\n\n". */
  def extractPage(pageIdx: Int, pageW: Int, blocks: Seq[PBlock]): (String, Vector[Span]) = {
    val ordered = orderPage(pageW, blocks.toVector)
    (ordered.map(_.text).mkString("\n\n"),
      ordered.zipWithIndex.map { case (b, i) =>
        Span(i, s"pdf/page$pageIdx", b.off, b.end, "content", 1.0, b.text)
      })
  }

  /** Parse into (pageWidth, blocks-in-payload-order) per page. Malformed lines
    * are skipped (tag-soup tolerance, same spirit as the HTML branch). Lines
    * are split at the BYTE level so Span offsets are exact payload offsets —
    * measuring the utf8 length of the DECODED line drifts whenever malformed
    * bytes become U+FFFD replacements (1 raw byte counted as 3). */
  private def parsePages(input: Array[Byte]): Vector[(Int, Vector[PBlock])] = {
    val pages = Vector.newBuilder[(Int, Vector[PBlock])]
    var curW = 0
    var blocks = Vector.newBuilder[PBlock]
    var inPage = false
    val n = input.length
    var ls = 0 // BYTE offset of the current line (Span contract, Model.scala)
    while (ls < n) {
      var le = ls
      while (le < n && input(le) != '\n') le += 1
      val lineEnd = if (le < n) le + 1 else le // incl. the separator
      var ce = le
      if (ce > ls && input(ce - 1) == '\r') ce -= 1
      val t = new String(input, ls, ce - ls, StandardCharsets.UTF_8)
      if (t.startsWith("page ")) {
        if (inPage) { pages += ((curW, blocks.result())) }
        val parts = t.split(" ")
        curW = if (parts.length >= 2) parseIntSafe(parts(1)) else 0
        blocks = Vector.newBuilder[PBlock]
        inPage = true
      } else if (t == "endpage") {
        if (inPage) { pages += ((curW, blocks.result())); inPage = false }
      } else if (t.startsWith("block ") && inPage) {
        // block x y w h text...
        val p = t.substring(6).split(" ", 5)
        if (p.length == 5) {
          val (x, y, w, h) = (parseIntSafe(p(0)), parseIntSafe(p(1)), parseIntSafe(p(2)), parseIntSafe(p(3)))
          val txt = TextNormalizer.normalize(p(4))
          if (txt.nonEmpty) blocks += PBlock(x, y, w, h, txt, ls, lineEnd)
        }
      }
      ls = lineEnd
    }
    if (inPage) pages += ((curW, blocks.result()))
    pages.result()
  }

  private def parseIntSafe(s: String): Int =
    try s.toInt catch { case _: NumberFormatException => 0 }

  /** Banded XY-cut ordering. Deterministic: ties broken by (y, x, payload order). */
  def orderPage(pageW: Int, blocks: Vector[PBlock]): Vector[PBlock] = {
    val sorted = blocks.sortBy(b => (b.y, b.x))
    val out = Vector.newBuilder[PBlock]
    val band = scala.collection.mutable.ArrayBuffer.empty[PBlock]
    def isFull(b: PBlock): Boolean = b.w.toLong * 10 >= pageW.toLong * 6
    def flush(): Unit = {
      if (band.nonEmpty) {
        val (left, right) = band.partition(b => 2L * b.x + b.w < pageW)
        out ++= left.sortBy(b => (b.y, b.x))
        out ++= right.sortBy(b => (b.y, b.x))
        band.clear()
      }
    }
    for (b <- sorted) {
      if (isFull(b)) { flush(); out += b }
      else band += b
    }
    flush()
    out.result()
  }
}
