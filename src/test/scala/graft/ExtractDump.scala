package graft

import java.nio.charset.StandardCharsets

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.corpus.Corpus
import graft.extract.{ExtractConfig, Extractor, ExtractorState, HtmlChunker}
import graft.htmltok.{Charsets, HtmlTokenizer, TokenArena}

/** Dumps everything the HTML kernel derives from a page, one record per
  * input, so two builds of the tokenizer, tree builder, segmenter,
  * classifier or chunk planner can be compared record by record:
  *
  * {{{
  * sbt "Test/runMain graft.ExtractDump <out> [trialsPerKind=200]"
  * }}}
  *
  * The inputs are the 160 golden pages (`Corpus.pages(42, 160)`),
  * ChunkedExtractSpec's soups at seeds 0-99 and seeded tag mutations (seed
  * 17), `trialsPerKind` of each kind in `kinds`: omitted end tags, table
  * sections without `<tr>`, self-closed `<svg/>`/`<math/>`/`<div/>` inside
  * `<a>`, TeX and non-TeX `<annotation>`s, rawtext bodies, and uppercase or
  * custom tag names. A record is a `=== <what>` line followed by:
  *  - `Extractor.extract`'s text, charset, truncated flag, status and every
  *    span (block index, tagPath, offsets, label, score, text);
  *  - the kept-group sizes of the single-pass kernel;
  *  - the `HtmlChunker.plan` seams at two chunk sizes;
  *  - `anchorHrefs`, `anchorTexts`, `resolvedLinks` and `headMeta`.
  */
object ExtractDump {
  val kinds: Seq[String] = Seq("omit", "notr", "selfclose", "annotation", "rawtext", "names")

  private def esc(s: String): String =
    if (s == null) "null" else s.replace("\\", "\\\\").replace("\n", "\\n").replace("\r", "\\r")

  private def record(url: String, html: Array[Byte]): String = {
    val sb = new StringBuilder
    val state = new ExtractorState()
    val doc = Extractor.extract(url, html, ExtractConfig(), state)
    sb ++= s"text ${esc(doc.text)}\n"
    sb ++= s"doc ${doc.charset} ${doc.truncated} ${doc.status} ${doc.nSpans}\n"
    doc.spans.foreach { s =>
      sb ++= s"span ${s.blockIdx} ${s.tagPath} ${s.start} ${s.end} ${s.label} ${s.score} ${esc(s.text)}\n"
    }
    val (cs, bom) = Charsets.sniff(html)
    if (Charsets.rawBytesOk(cs, html)) {
      val (_, sizes) = Extractor.extractHtmlGrouped(url, html, cs, bom, truncated = false,
        ExtractConfig(), new ExtractorState())
      sb ++= s"groups ${sizes.mkString(",")}\n"
    }
    for (min <- Seq(64, 256))
      sb ++= s"plan$min ${HtmlChunker.plan(html, min).map(c => s"${c.start}-${c.end}${c.prefix}").mkString(" ")}\n"
    val arena = new TokenArena()
    sb ++= s"hrefs ${HtmlTokenizer.anchorHrefs(html, arena).map(esc).mkString(" | ")}\n"
    sb ++= s"texts ${HtmlTokenizer.anchorTexts(html, arena).map { case (h, t) => esc(h) + "=" + esc(t) }.mkString(" | ")}\n"
    sb ++= s"links ${HtmlTokenizer.resolvedLinks(html, arena, url).map(esc).mkString(" | ")}\n"
    sb ++= s"head ${esc(HtmlTokenizer.headMeta(html, arena).toString)}\n"
    sb.result()
  }

  private val words = IndexedSeq("alpha", "beta", "gamma", "delta", "content", "words",
    "here", "table", "cell", "item", "term", "value", "menu", "home", "about")

  /** One mutated page: `(variant, html)` for mutation `kind`. */
  private def mutate(kind: String, rng: java.util.Random): (String, String) = {
    def pick[A](xs: IndexedSeq[A]): A = xs(rng.nextInt(xs.length))
    def text(n: Int): String = (0 until n).map(_ => pick(words)).mkString(" ")
    def para = s"<p>${text(4 + rng.nextInt(8))}</p>"
    def table = {
      val rows = (0 until 1 + rng.nextInt(3)).map { _ =>
        val cells = (0 until 1 + rng.nextInt(3)).map { _ =>
          val span = pick(IndexedSeq("", "", " colspan=2", " rowspan=2"))
          s"<${pick(IndexedSeq("td", "td", "th"))}$span>${text(2)}</td>"
        }
        s"<tr>${cells.mkString}</tr>"
      }
      if (rng.nextBoolean()) s"<table><tbody>${rows.mkString}</tbody></table>"
      else s"<table><thead>${rows.head}</thead><tbody>${rows.tail.mkString}</tbody><tfoot><tr><td>${text(2)}</td></tr></tfoot></table>"
    }
    def dl = s"<dl><dt>${text(1)}</dt><dd>${text(5)}</dd><dt>${text(1)}</dt><dd>${text(4)}</dd></dl>"
    def ul = s"<ul><li>${text(3)}</li><li><a href=/i>${text(2)}</a> ${text(3)}</li></ul>"
    def nav = s"""<nav><a href="/a">${text(1)}</a> <a href="/b">${text(1)}</a></nav>"""
    def body(parts: Seq[String]) =
      s"<!doctype html><html><head><title>${text(3)}</title><meta charset=utf-8></head>" +
        s"<body>${parts.mkString}</body></html>"
    def mix = Seq.fill(3 + rng.nextInt(4))(pick(IndexedSeq(para, table, dl, ul, nav, para)))
    kind match {
      case "omit" =>
        // drop each chosen end tag with probability 1/2
        val tags = IndexedSeq("</td>", "</tr>", "</dd>", "</p>", "</head>")
        val v = rng.nextInt(tags.length)
        val page = body(mix :+ table :+ dl :+ para)
        val out = page.split(java.util.regex.Pattern.quote(tags(v)), -1)
          .reduceLeft((a, b) => a + (if (rng.nextBoolean()) "" else tags(v)) + b)
        (s"omit${tags(v)}", out)
      case "notr" =>
        val forms = IndexedSeq(
          s"<table><tbody><td>${text(2)}<td>${text(2)}</tbody></table>",
          s"<table><td>${text(3)}</td><td>${text(2)}</table>",
          s"<table><thead><th>${text(1)}<th>${text(1)}<tbody><td>${text(2)}<td>${text(2)}</table>",
          s"<table><caption>${text(3)}</caption><tfoot><td>${text(2)}</tfoot></table>",
          s"<table><tr><td>${text(2)}<tbody><td>${text(2)}</table>")
        val v = rng.nextInt(forms.length)
        (s"form$v", body(mix :+ forms(v) :+ para))
      case "selfclose" =>
        val inner = IndexedSeq("<svg class=icon/>", "<math/>", "<div/>", "<svg/>",
          "<div class=x/>", "<span/>", "<br/>", "<img src=i.png/>")
        val v = rng.nextInt(inner.length)
        val a = s"""<a href="/x">${inner(v)}${text(2)}</a>"""
        val holder = pick(IndexedSeq(s"<p>${text(6)} $a ${text(4)}</p>", s"<li>$a</li>",
          s"<div>$a ${text(8)}</div>", a))
        (s"form$v", body(mix :+ holder :+ para))
      case "annotation" =>
        val enc = IndexedSeq("application/x-tex", "text/plain", "TeX", "text/html",
          "application/x-latex", "MathML-Content")
        val v = rng.nextInt(enc.length)
        val ann = pick(IndexedSeq(
          s"""<annotation encoding="${enc(v)}">x^{2}+y</annotation>""",
          s"""<annotation-xml encoding="${enc(v)}"><ci>x</ci></annotation-xml>""",
          s"""<annotation>no encoding</annotation>"""))
        val math = s"<math><semantics><mrow><mi>x</mi><mo>+</mo><mi>y</mi></mrow>$ann</semantics></math>"
        val holder = pick(IndexedSeq(s"<p>$math</p>", s"<p>${text(5)} $math ${text(3)}</p>",
          s"<td>$math</td>", s"<div>$ann</div>", s"<li>$math</li>"))
        (s"enc$v", body(mix :+ holder :+ para))
      case "rawtext" =>
        val forms = IndexedSeq(s"<script>var s='<p>${text(2)}</p>'</script>",
          s"<style>p{} /* <div>${text(2)}</div> */</style>",
          s"<textarea><b>${text(3)}</b>\nline two</textarea>", s"<title>${text(2)}<p>x</p></title>",
          s"<script/>${text(3)}</script>", s"<script>${text(2)}</scripty>${text(2)}</script>",
          s"<noscript><p>${text(3)}</p></noscript>", s"<pre>${text(3)}\n\n${text(2)}<br>${text(1)}</pre>")
        val v = rng.nextInt(forms.length)
        (s"form$v", body(mix :+ s"<div>${forms(v)}</div>" :+ para))
      case "names" =>
        val forms = IndexedSeq(
          s"<TABLE><TR><TD>${text(2)}<TD>${text(2)}</TABLE>",
          s"<P>${text(6)}<Div>${text(6)}</DIV>",
          s"<x-nav><a href=/a>${text(1)}</a> ${text(6)}</x-nav>",
          s"<section2><p>${text(6)}</p>${text(6)}</section2>",
          s"<UL><LI>${text(3)}<LI>${text(3)}</UL>",
          s"<H2>${text(3)}</H2><NAV><a href=/n>${text(2)}</a></NAV>",
          s"<h7>${text(4)}</h7><nav-x>${text(6)}</nav-x>",
          s"<DL><DT>${text(1)}<DD>${text(4)}</DL>", s"<Math><mi>x</mi></MATH>${text(5)}")
        val v = rng.nextInt(forms.length)
        (s"form$v", body(mix :+ forms(v) :+ para))
    }
  }

  def main(args: Array[String]): Unit = {
    val out = new java.io.PrintWriter(args(0), "UTF-8")
    val trials = if (args.length > 1) args(1).toInt else 200
    try {
      for ((g, i) <- Corpus.pages(42L, 160).zipWithIndex)
        out.print(s"=== golden $i ${g.row.url}\n${record(g.row.url, g.row.html)}")
      for (seed <- 0 until 100) {
        val soup = ChunkedExtractSpec.soup.pureApply(Gen.Parameters.default, Seed(seed.toLong))
        out.print(s"=== soup $seed\n${record(s"https://soup/$seed", soup.getBytes(StandardCharsets.UTF_8))}")
      }
      val rng = new java.util.Random(17L)
      for (kind <- kinds; trial <- 0 until trials) {
        val (variant, html) = mutate(kind, rng)
        out.print(s"=== mut $kind $trial $variant\n" +
          record(s"https://mut/$kind/$trial", html.getBytes(StandardCharsets.UTF_8)))
      }
    } finally out.close()
  }
}
