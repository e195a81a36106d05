package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Corpus
import graft.extract.{ExtractConfig, Extractor, ExtractorState}
import graft.model.{ExtractedDoc, PageRow}
import graft.pdf.PdfBranch
import graft.pipeline.{ChunkedExtract, CorpusSource}

/** Tile-seam equivalence for the PDF page explode (SURVEY.md §7.4 hard part
  * #3): the splitter's distributed page-explode path must equal the
  * single-pass `Extractor.extract` for every document — text, spans, status
  * and truncation — so splitting a mega-document across tasks may never
  * change its output.
  */
class PdfPagedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def row(url: String, payload: Array[Byte]): PageRow =
    PageRow(url, new java.sql.Timestamp(0L), payload, null, "en")

  private def dataset(rows: Seq[PageRow]): Dataset[PageRow] = {
    import spark.implicits._
    spark.createDataset(rows)
  }

  private def split(pages: Dataset[PageRow], cfg: ExtractConfig): Map[String, ExtractedDoc] = {
    val docs = ChunkedExtract.run(pages, cfg, chunkThreshold = 0).collect()
    assert(docs.map(_.url).distinct.length == docs.length, "a document split in two")
    docs.map(d => d.url -> d).toMap
  }

  /** `pages` F12-style mini-format pages, `blocks` full-width blocks each. */
  private def miniPdf(pages: Int, blocks: Int): Array[Byte] =
    ("%PDF-GRAFT 1.0\n" + (0 until pages).map { i =>
      "page 800 1200\n" + (0 until blocks).map { b =>
        s"block 50 ${100 + 100 * b} 700 80 page $i block $b text here"
      }.mkString("\n") + "\nendpage"
    }.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8)

  test("page-explode extraction == single-pass extraction for all PDF fixtures") {
    val n = 160
    val got = split(CorpusSource.pages(spark, n, partitions = 16), ExtractConfig())
    val goldens = Corpus.pages(42L, n)
    assert(got.size == goldens.size)
    goldens.foreach { g =>
      val single = Extractor.extract(g.row.url, g.row.html, ExtractConfig())
      assert(got(g.row.url) == single, s"tile-seam divergence at ${g.row.url}")
    }
    val multiPage = goldens.filter { g =>
      PdfBranch.isPdf(g.row.html) &&
        PdfBranch.parsePayload(g.row.html, ExtractConfig()).pages.length >= 2
    }
    assert(multiPage.nonEmpty, "no multi-page PDF fixture: the explode never ran")
    multiPage.foreach(g => assert(got(g.row.url).text == g.expectedText, g.row.url))
  }

  test("an unparsable PDF payload yields a sentinel row, not silence") {
    // %PDF magic but no parsable structure → pdf_unparsed; the split path
    // must report the same loss the single-pass path records (ADVICE r2)
    val junk = "%PDF-1.7\nthis is not a real pdf body".getBytes(StandardCharsets.UTF_8)
    val got = split(dataset(Seq(row("u://broken", junk))), ExtractConfig())
    assert(got.keySet == Set("u://broken"))
    val doc = got("u://broken")
    assert(doc.text == "")
    assert(doc.status == "pdf_unparsed")
    assert(doc == Extractor.extract("u://broken", junk, ExtractConfig()))
  }

  test("run() carries status/truncated: paged == single-pass on every PDF fixture") {
    // page 1 decodes (raw stream); page 2 has an unsupported filter →
    // pdf_partial, exploded into two page rows
    val c1 = "BT /F1 12 Tf 50 1100 Td (Readable page.) Tj ET"
    val partial = ("%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 800 1200] /Contents 4 0 R >>\nendobj\n" +
      s"4 0 obj\n<< /Length ${c1.length} >>\nstream\n$c1\nendstream\nendobj\n" +
      "5 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 800 1200] /Contents 6 0 R >>\nendobj\n" +
      "6 0 obj\n<< /Length 4 /Filter /DCTDecode >>\nstream\nABCD\nendstream\nendobj\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    // maxPdfPages = 2 page-caps every longer document (truncated = true)
    val cfg = ExtractConfig(maxPdfPages = 2)
    assert(ChunkedExtract.chunkRows(row("u://partial", partial), cfg, 0, 2048).length == 2)
    val rows = Corpus.pages(42L, 160).map(_.row).filter(p => PdfBranch.isPdf(p.html)) ++
      Seq(row("u://partial", partial), row("u://long", miniPdf(pages = 5, blocks = 1)))
    val got = split(dataset(rows), cfg)
    rows.foreach { p =>
      val single = Extractor.extract(p.url, p.html, cfg)
      assert(got(p.url).status == single.status, p.url)
      assert(got(p.url).truncated == single.truncated, p.url)
      assert(got(p.url) == single, p.url)
    }
    assert(got("u://partial").status == "pdf_partial")
    assert(got("u://long").truncated)
  }

  test("a many-page document splits into that many independent page rows") {
    val payload = miniPdf(pages = 50, blocks = 1)
    val rows = ChunkedExtract.chunkRows(row("u", payload), ExtractConfig(), 0, 2048)
    assert(rows.length == 50)
    assert(rows.map(_.chunkIdx) == (0 until 50))
    assert(rows.forall(r => r.page.isDefined && r.payload == null))
    val merged = ChunkedExtract.merge("u",
      rows.map(ChunkedExtract.extractChunk(_, ExtractConfig(), new ExtractorState())))
    assert(merged == Extractor.extract("u", payload, ExtractConfig()))
  }

  test("maxBlocksPerDoc never caps a PDF: the split keeps every page's blocks") {
    // the single pass never caps PDFs, so neither may merge
    val payload = miniPdf(pages = 4, blocks = 3)
    val cfg = ExtractConfig(maxBlocksPerDoc = 5)
    val got = split(dataset(Seq(row("u://capped", payload))), cfg)("u://capped")
    val single = Extractor.extract("u://capped", payload, cfg)
    assert(single.nSpans == 12)
    assert(got == single)
  }
}
