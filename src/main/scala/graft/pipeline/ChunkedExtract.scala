package graft.pipeline

import java.nio.charset.StandardCharsets

import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset

import graft.extract.{ExtractConfig, Extractor, ExtractorState, HtmlChunker}
import graft.htmltok.Charsets
import graft.model.{ExtractedDoc, PageRow, Span}
import graft.pdf.PdfBranch

/** Chunked extraction for mega documents — one explode → extract → merge
  * driver for both payload types, letting one 100 MB page or 10k-page PDF
  * fan out across tasks instead of straggling one:
  *  - HTML: plan safe split points (HtmlChunker, which reads them off the
  *    tree `DomArena.build` makes of the whole payload) and extract each
  *    fragment independently — the reference's slice → offset-rebase → merge
  *    path (tools/infer/predict_system.py:86-107);
  *  - PDF: parse once, explode one row per page carrying its typed blocks,
  *    and lay each page out independently (`PdfBranch.extractPage`, the
  *    single pass's own per-page step) — the reference's PDF page explode →
  *    page concat (ppocr/utils/utility.py:119-152,
  *    ppstructure/predict_system.py:343-388).
  *
  * Merge contract (proven identical to `Extractor.extract` — text and spans —
  * in ChunkedExtractSpec and PdfPagedSpec): chunk texts join with "\n\n"
  * (empty chunks skipped, exactly the single-pass group / page separator),
  * span blockIdx renumbers cumulatively, and span byte offsets rebase by
  * (chunkStart − prefixLen) — the slice-offset rebase of SURVEY.md §2.3
  * (zero for PDF pages, whose spans already carry payload offsets).
  *
  * `maxBlocksPerDoc` is enforced GLOBALLY at merge (r2 ADVICE): fragments
  * extract UNCAPPED (their output is intrinsically bounded by fragment
  * bytes), ship their full group-size partition, and merge applies
  * `Extractor.capGroupCount` to the concatenated group sequence — the same
  * pure function over the same sequence the single-pass kernel walks
  * (groups never straddle fragments), so byte-identity holds through and
  * beyond the cap. A per-fragment cap would be WRONG, not just different:
  * it removes the group on which the global walk stops, and the merge walk
  * would keep later groups the single pass never emits.
  */
object ChunkedExtract {

  final case class ChunkRow(
      rowUid: Long, // per-input-row identity (crawl data can repeat urls)
      url: String,
      chunkIdx: Int, // -1 = whole-doc passthrough, else fragment / page index
      chunkStart: Int,
      prefixLen: Int,
      payload: Array[Byte], // null on a PDF page row
      charsetName: String,
      bom: Int,
      truncated: Boolean,
      page: Option[PdfPage] = None)

  /** One exploded PDF page: its parsed blocks, the page width, and the whole
    * document's parse status. */
  final case class PdfPage(width: Int, blocks: Seq[PdfBranch.PBlock], status: String)

  final case class ChunkResult(
      rowUid: Long,
      url: String,
      chunkIdx: Int,
      chunkStart: Int,
      prefixLen: Int,
      text: String,
      spans: Seq[Span],
      charset: String,
      truncated: Boolean,
      status: String,
      /** spans per assembly group, in order (empty for passthrough and PDF
        * page rows) — lets merge re-apply the block cap group-atomically. */
      groupSizes: Seq[Int])

  /** Split one page into chunk rows (pass-through when chunking does not
    * apply). HTML: charset is sniffed once on the (truncated) whole payload
    * and inherited by every fragment. PDF: the (truncated) payload is parsed
    * once and each page becomes a row; fewer than two pages — unparsable
    * included — pass through whole, so the document cannot vanish. */
  def chunkRows(p: PageRow, cfg: ExtractConfig, chunkThreshold: Int,
                minChunkBytes: Int, rowUid: Long = 0L): Seq[ChunkRow] = {
    val html = p.html
    val passthrough = Seq(ChunkRow(rowUid, p.url, -1, 0, 0, html, "", 0, truncated = false))
    if (html == null || html.length < chunkThreshold) return passthrough
    val truncated = html.length > cfg.maxHtmlBytes
    val input = cfg.capped(html)
    if (PdfBranch.isPdf(html)) {
      val parsed = PdfBranch.parsePayload(input, cfg)
      if (parsed.pages.length < 2) return passthrough
      return parsed.pages.zipWithIndex.map { case ((w, blocks), idx) =>
        ChunkRow(rowUid, p.url, idx, 0, 0, null, "", 0,
          truncated || parsed.pagesTruncated, Some(PdfPage(w, blocks, parsed.status)))
      }
    }
    val (charset, bom) = Charsets.sniff(input)
    // byte-splitting is sound only where raw-byte tokenizing is (the
    // Extractor's gate): not utf-16/32, not CDATA under a ']' trail byte
    if (!Charsets.rawBytesOk(charset, input)) return passthrough
    val chunks = HtmlChunker.plan(input, minChunkBytes)
    if (chunks.length == 1) return passthrough
    chunks.zipWithIndex.map { case (c, idx) =>
      val prefix = c.prefix.getBytes(StandardCharsets.US_ASCII)
      val payload = new Array[Byte](prefix.length + (c.end - c.start))
      System.arraycopy(prefix, 0, payload, 0, prefix.length)
      System.arraycopy(input, c.start, payload, prefix.length, c.end - c.start)
      ChunkRow(rowUid, p.url, idx, c.start, prefix.length, payload, charset.name(),
        if (idx == 0) bom else 0, truncated)
    }
  }

  /** Extract one chunk row (passthrough, PDF page or HTML fragment). */
  def extractChunk(r: ChunkRow, cfg: ExtractConfig, state: ExtractorState): ChunkResult =
    r.page match {
      case Some(pg) =>
        val (text, spans) = PdfBranch.extractPage(r.chunkIdx, pg.width, pg.blocks)
        ChunkResult(r.rowUid, r.url, r.chunkIdx, 0, 0, text, spans, "utf-8",
          r.truncated, pg.status, Nil)
      case None if r.chunkIdx < 0 =>
        val doc = Extractor.extract(r.url, r.payload, cfg, state)
        ChunkResult(r.rowUid, r.url, r.chunkIdx, r.chunkStart, r.prefixLen, doc.text,
          doc.spans, doc.charset, doc.truncated, doc.status, Nil)
      case None =>
        // fragments extract UNCAPPED: a per-fragment block cap would REMOVE
        // the very group on which the single-pass global walk stops, and the
        // merge walk (seeing only the survivors) would then keep later groups
        // the single pass never reaches (r3 review, confirmed divergence).
        // The global cap is merge's job alone; per-task output stays
        // intrinsically bounded by O(fragment bytes).
        val uncapped = cfg.copy(maxBlocksPerDoc = Int.MaxValue)
        val (doc, sizes) = Extractor.extractHtmlGrouped(r.url, r.payload,
          Charsets.resolve(r.charsetName), r.bom, r.truncated, uncapped, state)
        ChunkResult(r.rowUid, r.url, r.chunkIdx, r.chunkStart, r.prefixLen, doc.text,
          doc.spans, doc.charset, doc.truncated, doc.status, sizes)
    }

  /** Merge a document's chunk results (sorted by chunkIdx) seam-exactly,
    * re-applying the GLOBAL block cap group-atomically (the same
    * `capGroupCount` walk the single-pass kernel runs — lockstep through
    * the cap). PDF pages ship no group sizes, so the cap walk never fires
    * on them — the single pass never caps a PDF either. */
  def merge(url: String, results: Seq[ChunkResult],
            cfg: ExtractConfig = ExtractConfig()): ExtractedDoc = {
    val sorted = results.sortBy(_.chunkIdx)
    if (sorted.length == 1 && sorted.head.chunkIdx < 0) {
      val r = sorted.head
      return ExtractedDoc(url, r.text, r.spans.length, r.spans, r.charset, r.truncated,
        r.status)
    }
    val allSizes: IndexedSeq[Int] = sorted.flatMap(_.groupSizes).toIndexedSeq
    val nGroups = Extractor.capGroupCount(allSizes, cfg.maxBlocksPerDoc)
    val capped = nGroups < allSizes.length

    val text =
      if (!capped) sorted.map(_.text).filter(_.nonEmpty).mkString("\n\n")
      else {
        // keep whole chunks while their groups fit, then a group-prefix of
        // the straddling chunk. Group texts are recoverable from the chunk
        // text because "\n\n" appears ONLY between groups (normalization
        // collapses newline runs, so no group text contains a blank line).
        val parts = Vector.newBuilder[String]
        var g = nGroups
        sorted.foreach { r =>
          val k = r.groupSizes.length
          if (g > 0 && k > 0) {
            if (k <= g) { if (r.text.nonEmpty) parts += r.text; g -= k }
            else { parts += r.text.split("\n\n", -1).take(g).mkString("\n\n"); g = 0 }
          }
        }
        parts.result().mkString("\n\n")
      }

    var idx = 0
    val all = sorted.flatMap { r =>
      r.spans.map { s =>
        val rebased = Span(idx, s.tagPath,
          s.start - r.prefixLen + r.chunkStart,
          s.end - r.prefixLen + r.chunkStart,
          s.label, s.score, s.text)
        idx += 1
        rebased
      }
    }
    val spans = if (capped) all.take(allSizes.take(nGroups).sum) else all
    ExtractedDoc(url, text, spans.length, spans,
      sorted.head.charset, sorted.head.truncated, sorted.head.status)
  }

  /** Pure single-JVM path (used by the equivalence spec and small jobs). */
  def extractLocal(p: PageRow, cfg: ExtractConfig = ExtractConfig(),
                   chunkThreshold: Int = 1 << 20, minChunkBytes: Int = 256 * 1024,
                   state: ExtractorState = new ExtractorState()): ExtractedDoc = {
    val rows = chunkRows(p, cfg, chunkThreshold, minChunkBytes)
    merge(p.url, rows.map(extractChunk(_, cfg, state)), cfg)
  }

  /** Distributed path: documents below the chunk threshold extract IN PLACE
    * (no shuffle at all — shuffling every small payload through the chunk
    * repartition roughly doubled job I/O for the 99% case); only mega
    * documents explode → spread across tasks → extract → reassemble by a
    * per-row uid (one shuffle of chunk slices out, extracted text back).
    * Keying on the uid rather than the url keeps two rows that share a url —
    * real crawl data has them — as two independent documents (ADVICE r1). */
  def run(pages: Dataset[PageRow], cfg: ExtractConfig = ExtractConfig(),
          chunkThreshold: Int = 1 << 20,
          minChunkBytes: Int = 256 * 1024): Dataset[ExtractedDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    // the plain path IS Extract.run — reuse it (one per-partition kernel
    // loop to maintain, not two copies that can drift)
    val small = Extract.run(
      pages.filter(p => p.html == null || p.html.length < chunkThreshold), cfg)
    val big = pages.filter(p => p.html != null && p.html.length >= chunkThreshold)
      .mapPartitions { it =>
        // row uid: partition id in the high bits, in-partition index in the
        // low 36 — deterministic given the input partitioning
        val pid = TaskContext.getPartitionId().toLong
        it.zipWithIndex.flatMap { case (p, i) =>
          chunkRows(p, cfg, chunkThreshold, minChunkBytes, pid << 36 | i.toLong)
        }
      }
      .repartition(spark.sparkContext.defaultParallelism * 2) // spread mega-doc chunks
      .mapPartitions { it =>
        val state = new ExtractorState()
        it.map(extractChunk(_, cfg, state))
      }
      .groupByKey(_.rowUid)
      .mapGroups((_, it) => { val rs = it.toSeq; merge(rs.head.url, rs, cfg) })
    small.union(big)
  }
}
