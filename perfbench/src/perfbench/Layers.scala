package perfbench

import scala.collection.mutable

import graft.extract.{ExtractConfig, Extractor, ExtractorState}
import graft.htmltok.Charsets
import graft.model.PageRow
import graft.pdf.PdfBranch

/** Times each kernel layer by calling its public functions directly on the
  * calling thread, one document at a time. Sums are over one pass of `pages`.
  * Each document goes through one Extractor.extract call; the HTML stage
  * times are the deltas of that call's ExtractorState counters, as the
  * production pipeline records them in its lineage.
  *
  *  - htmltok: Charsets.sniff (timed apart) + the tokenize counter
  *  - dom: the dom counter (DomArena.build + BlockSegmenter.segment)
  *  - extract: the classify and assemble counters (classify_assemble); on
  *    transcoded payloads, the rest of the call (transcode)
  *  - pdf: PdfBranch.parsePayload and PdfBranch.orderPage
  *  - class.<c>: the whole Extractor.extract call, per payload class */
final class Layers {
  private val cfg = ExtractConfig()
  private val state = new ExtractorState()
  val sums: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  private def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(pages: Iterable[PageRow]): Unit = pages.foreach(one)

  private def one(p: PageRow): Unit = {
    val html = p.html
    val cls = Inputs.classOf(html)
    add(s"class.$cls.docs", 1)
    if (html == null || html.isEmpty) return
    val isPdf = PdfBranch.isPdf(html)
    if (isPdf) pdf(html)
    var t0 = System.nanoTime()
    // the sniff reads at most the first 1 KiB, so the payload's own bytes
    // sniff the same as the extractor's truncated copy
    if (!isPdf) Charsets.sniff(html)
    val sniffS = secs(t0)
    val tok0 = state.tokenizeNanos
    val dom0 = state.domNanos
    val stage0 = state.classifyNanos + state.assembleNanos
    t0 = System.nanoTime()
    val doc = Extractor.extract(p.url, html, cfg, state)
    val totalS = secs(t0)
    add(s"class.$cls.busy_s", totalS)
    add(s"class.$cls.mb", html.length / 1e6)
    add("extract.spans", doc.nSpans)
    if (doc.truncated) add("extract.truncated_docs", 1)
    if (!isPdf) {
      val tokS = (state.tokenizeNanos - tok0) / 1e9
      val domS = (state.domNanos - dom0) / 1e9
      val stageS = (state.classifyNanos + state.assembleNanos - stage0) / 1e9
      add("htmltok.busy_s", sniffS + tokS)
      add("htmltok.bytes", math.min(html.length, cfg.maxHtmlBytes))
      add("htmltok.tokens", state.toks.size)
      add("dom.busy_s", domS)
      add("dom.nodes", state.dom.nNodes)
      add("dom.blocks", state.blocks.nBlocks)
      add("extract.classify_assemble_s", stageS)
      // the call's second sniff stands in for the one timed above
      if (cls == "html_transcode") add("extract.transcode_s", totalS - sniffS - tokS - domS - stageS)
    }
  }

  private def pdf(html: Array[Byte]): Unit = {
    val input =
      if (html.length > cfg.maxHtmlBytes) java.util.Arrays.copyOf(html, cfg.maxHtmlBytes) else html
    var t0 = System.nanoTime()
    val parsed = PdfBranch.parsePayload(input, cfg)
    add("pdf.parse_s", secs(t0))
    t0 = System.nanoTime()
    parsed.pages.foreach { case (w, blocks) => PdfBranch.orderPage(w, blocks) }
    add("pdf.order_s", secs(t0))
    add("pdf.pages", parsed.pages.length)
    add("pdf.bytes", input.length)
    if (parsed.status == "pdf_partial") add("pdf.partial_docs", 1)
    if (parsed.status == "pdf_unparsed") add("pdf.unparsed_docs", 1)
  }

  /** Per-layer metrics of this pass, with rates derived from the sums. */
  def report(): Map[String, Double] = {
    val s = sums.toMap.withDefaultValue(0.0)
    val tokS = s("htmltok.busy_s")
    val pdfS = s("pdf.parse_s") + s("pdf.order_s")
    s.removed("htmltok.bytes").removed("pdf.bytes") ++ Map(
      "htmltok.mb_per_s" -> (if (tokS > 0) s("htmltok.bytes") / 1e6 / tokS else 0.0),
      "pdf.mb_per_s" -> (if (pdfS > 0) s("pdf.bytes") / 1e6 / pdfS else 0.0))
  }
}
