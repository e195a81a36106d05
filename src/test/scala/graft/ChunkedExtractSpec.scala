package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Corpus
import graft.extract.{ExtractConfig, Extractor, ExtractorState, HtmlChunker}
import graft.model.PageRow
import graft.pipeline.{ChunkedExtract, CorpusSource}

/** Seam-exactness of chunked mega-document extraction: for every input, the
  * chunked path must produce byte-identical text AND identical spans
  * (labels, scores, tagPaths, rebased offsets) to the single-pass kernel —
  * at any chunk size. SURVEY.md §7.4 hard part #3.
  */
class ChunkedExtractSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), p)
    assert(res.passed, res.status.toString)
  }

  private def equivalent(row: PageRow, minChunk: Int): Option[String] = {
    val single = Extractor.extract(row.url, row.html, ExtractConfig())
    val chunked = ChunkedExtract.extractLocal(row, ExtractConfig(),
      chunkThreshold = 0, minChunkBytes = minChunk)
    if (single.text != chunked.text)
      Some(s"text diff at ${row.url}:\n--- single:\n${single.text}\n--- chunked:\n${chunked.text}")
    else if (single.spans != chunked.spans)
      Some(s"span diff at ${row.url}:\n${single.spans.zip(chunked.spans).filter(p => p._1 != p._2).take(3)}")
    else None
  }

  test("chunked == single-pass over every golden fixture, multiple chunk sizes") {
    val goldens = Corpus.pages(42L, 160)
    for (minChunk <- Seq(512, 2048, 16384)) {
      val failures = goldens.flatMap(g => equivalent(g.row, minChunk))
      assert(failures.isEmpty,
        s"minChunk=$minChunk: ${failures.size} divergences; first:\n${failures.headOption.getOrElse("")}")
    }
  }

  test("chunked == single-pass on a math mega-doc (no seam inside <math>)") {
    // a <math>/<annotation> ancestor forbids a split (the planner splits
    // only under plain html/body ancestors), so formula ancestry facts can
    // never straddle a seam — pinned over a mega-doc whose every paragraph
    // carries MathML, at aggressive chunk sizes
    val body = (0 until 200).map { i =>
      s"""<p>Paragraph $i with an inline term <math><semantics><mrow><mi>x</mi><mo>=</mo><mn>$i</mn></mrow><annotation encoding="application/x-tex">x_{$i} = \\sqrt{$i}</annotation></semantics></math> plus enough prose to pad the fragment past the block boundary comfortably.</p>
         |<p><math display="block"><mi>y</mi><mo>=</mo><mn>${i * 2}</mn></math></p>""".stripMargin
    }.mkString("\n")
    val html = s"<html><body>$body</body></html>".getBytes("UTF-8")
    val row = PageRow("http://t/math-mega", new java.sql.Timestamp(0L), html, null, null)
    for (minChunk <- Seq(256, 512, 2048)) {
      val d = equivalent(row, minChunk)
      assert(d.isEmpty, s"minChunk=$minChunk: ${d.getOrElse("")}")
    }
    // and the doc genuinely splits (the guard is not vacuous)
    val chunks = graft.extract.HtmlChunker.plan(html, 2048)
    assert(chunks.length > 4, s"expected a real multi-chunk plan, got ${chunks.length}")
  }

  test("chunked == single-pass on generated top-level soups (property)") {
    import ChunkedExtractSpec.soup
    check(Prop.forAll(soup) { html =>
      val row = PageRow("u", new java.sql.Timestamp(0), html.getBytes(StandardCharsets.UTF_8), null, "en")
      equivalent(row, 64).isEmpty && equivalent(row, 300).isEmpty
    })
    // AND under a random block cap: the group-atomic global cap must stay
    // lockstep for every (soup, cap, chunk size) — not just the authored
    // shapes in the dedicated cap tests
    check(Prop.forAll(soup, Gen.chooseNum(1, 30)) { (html, cap) =>
      val row = PageRow("u", new java.sql.Timestamp(0), html.getBytes(StandardCharsets.UTF_8), null, "en")
      val cfg = ExtractConfig(maxBlocksPerDoc = cap)
      Seq(64, 300).forall { minChunk =>
        val single = Extractor.extract(row.url, row.html, cfg)
        val chunked = ChunkedExtract.extractLocal(row, cfg,
          chunkThreshold = 0, minChunkBytes = minChunk)
        single.text == chunked.text && single.spans == chunked.spans
      }
    })
  }

  test("chunked == single-pass BEYOND the block cap (global group-atomic cap)") {
    // 300 paragraphs + a table straddling nothing; cap at 57 spans → the cap
    // boundary falls mid-corpus and (for some chunk sizes) mid-chunk. r2's
    // per-fragment cap diverged here; the merge now re-applies the kernel's
    // capGroupCount on the concatenated group sequence.
    val body = (0 until 300).map { i =>
      s"<p>paragraph number $i with enough characters to be kept as content block</p>"
    }.mkString + "<table><tr><td>cell one content block here</td>" +
      "<td>cell two content block here</td></tr></table>"
    val html = s"<html><head><title>t</title></head><body>$body</body></html>"
      .getBytes(StandardCharsets.UTF_8)
    val row = PageRow("u://cap", new java.sql.Timestamp(0L), html, null, "en")
    for (cap <- Seq(1, 57, 200, 301, 10000); minChunk <- Seq(512, 4096)) {
      val cfg = ExtractConfig(maxBlocksPerDoc = cap)
      val single = Extractor.extract(row.url, row.html, cfg)
      val chunked = ChunkedExtract.extractLocal(row, cfg,
        chunkThreshold = 0, minChunkBytes = minChunk)
      assert(single.text == chunked.text, s"cap=$cap minChunk=$minChunk text diff")
      assert(single.spans == chunked.spans, s"cap=$cap minChunk=$minChunk span diff")
      assert(single.nSpans <= math.max(cap, 2), s"cap=$cap not enforced: ${single.nSpans}")
    }
    // sanity: an uncapped run really has >200 spans (the cap bites above)
    assert(Extractor.extract(row.url, row.html, ExtractConfig()).nSpans > 200)
  }

  test("global cap sees groups a fragment-local cap would have hidden (r3 review)") {
    // CONFIRMED divergence before the fix: 4 paragraphs, then a 3-cell table
    // (the group the global walk stops on at cap=5), then 36 more paragraphs.
    // A per-fragment cap dropped the table from fragment 0's shipped groups,
    // so merge kept paragraph 5 — a span the single pass never emits.
    val body = (0 until 4).map(i =>
        s"<p>paragraph number $i with enough characters to be kept fine</p>").mkString +
      "<table><tr><td>cell one content block</td><td>cell two content block</td>" +
      "<td>cell three content block</td></tr></table>" +
      (4 until 40).map(i =>
        s"<p>paragraph number $i with enough characters to be kept fine</p>").mkString
    val html = s"<html><body>$body</body></html>".getBytes(StandardCharsets.UTF_8)
    val row = PageRow("u://hidden-group", new java.sql.Timestamp(0L), html, null, "en")
    for (cap <- Seq(4, 5, 6, 7); minChunk <- Seq(256, 512, 1024)) {
      val cfg = ExtractConfig(maxBlocksPerDoc = cap)
      val single = Extractor.extract(row.url, row.html, cfg)
      val chunked = ChunkedExtract.extractLocal(row, cfg,
        chunkThreshold = 0, minChunkBytes = minChunk)
      assert(single.text == chunked.text, s"cap=$cap minChunk=$minChunk text diff")
      assert(single.spans == chunked.spans, s"cap=$cap minChunk=$minChunk span diff")
    }
  }

  test("block cap keeps group 0 even when it alone exceeds the budget") {
    val cells = (0 until 40).map(i => s"<td>cell content number $i block</td>").mkString
    val html = s"<html><body><table><tr>$cells</tr></table><p>after table paragraph content</p></body></html>"
      .getBytes(StandardCharsets.UTF_8)
    val cfg = ExtractConfig(maxBlocksPerDoc = 5)
    val doc = Extractor.extract("u://bigtable", html, cfg)
    // the whole 40-cell table survives (group-atomic, group 0 always kept);
    // the paragraph after it is dropped by the exhausted budget
    assert(doc.nSpans == 40, doc.nSpans)
    assert(!doc.text.contains("after table"))
    val chunked = ChunkedExtract.extractLocal(
      PageRow("u://bigtable", new java.sql.Timestamp(0L), html, null, "en"), cfg,
      chunkThreshold = 0, minChunkBytes = 64)
    assert(chunked.text == doc.text && chunked.spans == doc.spans)
  }

  test("a mega document actually splits into multiple chunks") {
    val g = Corpus.pages(42L, 160).find(_.category == "F08").get // many sections
    val chunks = HtmlChunker.plan(g.row.html, minChunkBytes = 4096)
    assert(chunks.length > 2, s"expected multiple chunks, got ${chunks.length}")
    assert(chunks.head.prefix == "")
    assert(chunks.tail.forall(_.prefix == "<html><body>"))
    // ranges partition the payload
    assert(chunks.head.start == 0 && chunks.last.end == g.row.html.length)
    chunks.sliding(2).foreach { case Vector(a, b) => assert(a.end == b.start); case _ => () }
  }

  test("no safe split inside hinted containers (ancestry protected)") {
    val body = """<div class="article">""" +
      (1 to 50).map(i => s"<p>paragraph $i with plenty of words in it</p>").mkString + "</div>"
    val html = s"<html><body>$body</body></html>".getBytes(StandardCharsets.UTF_8)
    val chunks = HtmlChunker.plan(html, minChunkBytes = 256)
    assert(chunks.length == 1, s"split inside a class-hinted div: ${chunks.length} chunks")
  }

  test("distributed chunked path matches single-pass (Spark)") {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val got = ChunkedExtract.run(CorpusSource.pages(spark, 96, partitions = 8),
        chunkThreshold = 0, minChunkBytes = 2048)
      .collect().map(d => d.url -> d.text).toMap
    val state = new ExtractorState()
    Corpus.pages(42L, 96).foreach { g =>
      val single = Extractor.extract(g.row.url, g.row.html, ExtractConfig(), state)
      assert(got(g.row.url) == single.text, s"distributed chunk divergence at ${g.row.url}")
    }
  }

  test("chunked == single-pass for multi-byte (Shift_JIS) mega documents") {
    // raw-byte-safe multi-byte content: '<' can never be a trail byte, so
    // the chunk planner's byte-level split points stay on char boundaries
    val ja = Vector("データ", "処理", "システム", "分散", "計算", "エンジン", "文書", "抽出")
    val rng = new java.util.Random(7)
    val body = (0 until 120).map { i =>
      val words = (0 until 30).map(_ => ja(rng.nextInt(ja.length))).mkString("")
      s"<p>section $i $words</p>"
    }.mkString
    val doc = s"""<html><head><meta charset="shift_jis"></head><body>$body</body></html>"""
    val row = PageRow("https://x/sjis-mega", new java.sql.Timestamp(0L),
      doc.getBytes(java.nio.charset.Charset.forName("Shift_JIS")), null, "ja")
    for (minChunk <- Seq(512, 2048, 8192))
      assert(equivalent(row, minChunk).isEmpty, s"minChunk=$minChunk")
  }

  test("mega doc omitting </head> still chunks and stays byte-identical") {
    // the chunk planner must see the DOM builder's implicit </head> close:
    // without it the planner pins head open, never finds a split, and the
    // doc silently straggles one task
    val body = (0 until 200).map(i => s"<p>paragraph number $i with enough content words here</p>").mkString
    val noHeadClose = s"<html><head><title>t</title><body>$body</body></html>"
    val plan = HtmlChunker.plan(noHeadClose.getBytes(StandardCharsets.UTF_8), 2048)
    assert(plan.length > 1, "omitted </head> must not prevent chunking")
    val row = PageRow("https://x/nohead", new java.sql.Timestamp(0L),
      noHeadClose.getBytes(StandardCharsets.UTF_8), null, "en")
    assert(equivalent(row, 2048).isEmpty)
    // a stray </head> AFTER the implicit close is ignored, in the tree the
    // planner reads as in the single pass
    val strayClose = s"<html><head><title>t</title><body>${body.take(4000)}</head>${body.drop(4000)}</body></html>"
    val row2 = PageRow("https://x/stray", new java.sql.Timestamp(0L),
      strayClose.getBytes(StandardCharsets.UTF_8), null, "en")
    for (mc <- Seq(512, 2048)) assert(equivalent(row2, mc).isEmpty, s"minChunk=$mc")
  }

  // the implied-end-tag shapes of DomArena.build at the top level: a block
  // closing a <p>, an <li> without a list, a <head> left open around an
  // inline element, and tables and dls that omit their end tags
  private val impliedEnds: Seq[(String, String)] = {
    val n = 120
    Seq(
      "p-then-div" -> ("<html><body>" + (0 until n).map(i =>
        s"<p>paragraph $i left open with words<div>block $i after the open paragraph</div>").mkString +
        "</body></html>"),
      "bare-li" -> ("<html><body>" + (0 until n).map(i =>
        s"<li>item $i with no list around it at all").mkString + "</body></html>"),
      "head-inline" -> ("<html><head><title>t</title><span>inline words inside head</span>" +
        (0 until n).map(i => s"<div>block $i after the implicit head close</div>").mkString +
        "</html>"),
      "table-dl" -> ("<html><body>" + (0 until n / 4).map(i =>
        s"<p>lead paragraph $i before the table<table><tr><td>cell a $i<td>cell b $i" +
          s"<tr><td>cell c $i<td>cell d $i</table><dl><dt>term $i<dd>definition $i" +
          s"<dt>term two $i<dd>definition two $i</dl>").mkString +
        "<dl><dt>last term<dd>last definition never closed"))
  }

  test("chunked == single-pass on implied end tags at the top level") {
    for ((name, html) <- impliedEnds; minChunk <- Seq(64, 256, 2048)) {
      val bytes = html.getBytes(StandardCharsets.UTF_8)
      assert(HtmlChunker.plan(bytes, minChunk).length > 1, s"$name minChunk=$minChunk: no split")
      val row = PageRow(s"https://x/$name", new java.sql.Timestamp(0L), bytes, null, "en")
      val d = equivalent(row, minChunk)
      assert(d.isEmpty, s"$name minChunk=$minChunk: ${d.getOrElse("")}")
    }
  }

  test("a block that implicitly closes a top-level <p> is a seam") {
    val para = "<p>" + "words in an unclosed paragraph " * 20
    val html = s"<html><body>$para<div>block after the paragraph</div>$para</body></html>"
    val bytes = html.getBytes(StandardCharsets.UTF_8)
    val divAt = html.indexOf("<div>")
    val plan = HtmlChunker.plan(bytes, minChunkBytes = 256)
    assert(plan.exists(c => c.start == divAt && c.prefix == "<html><body>"), plan)
    val row = PageRow("https://x/p-div", new java.sql.Timestamp(0L), bytes, null, "en")
    assert(equivalent(row, 256).isEmpty)
  }
}

object ChunkedExtractSpec {
  /** Top-level soups of sections, navs, tables, lists and pre blocks. */
  private val section = for {
    n <- Gen.chooseNum(1, 4)
    ps <- Gen.listOfN(n, Gen.nonEmptyListOf(Gen.alphaNumStr.suchThat(_.nonEmpty).map(_.take(6)))
      .map(ws => s"<p>${ws.mkString(" ")} content words enough here</p>"))
  } yield s"<section><h2>Heading words here</h2>${ps.mkString}</section>"
  private val navish = Gen.const("""<nav><a href="/a">A</a><a href="/b">B</a></nav>""")
  private val tableish = Gen.const(
    "<table><tr><td>cell one here</td><td>cell two here</td></tr></table>")
  private val listish = Gen.const("<ul><li>item one words</li><li>item two words</li></ul>")
  // pre: the one block kind whose TEXT contains newlines — the merge's
  // group-text recovery relies on "\n\n" appearing only BETWEEN groups
  // (newline runs inside pre collapse to one '\n'), so it must be in the mix
  private val preish = Gen.const(
    "<pre>line one of code here\n\n\nline two stays\r\nline three ends</pre>")
  val soup: Gen[String] = Gen.listOf(Gen.oneOf(section, navish, tableish, listish, preish)).map { parts =>
    s"<html><body>${parts.mkString}</body></html>"
  }
}
