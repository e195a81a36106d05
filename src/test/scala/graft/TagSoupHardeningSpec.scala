package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Extractor
import graft.htmltok.{Charsets, HtmlTokenizer, TokenArena}

/** Regressions for real-world tag-soup/charset behaviors found by review:
  * each of these silently emptied or corrupted extraction before the fix. */
class TagSoupHardeningSpec extends AnyFunSuite {

  private def extract(html: String): String =
    Extractor.extract("u", html.getBytes("UTF-8")).text

  test("omitted </head> (legal HTML5) must not swallow the body") {
    val got = extract(
      "<html><head><title>t</title><body><p>hello world this is enough content chars</p></body></html>")
    assert(got == "hello world this is enough content chars")
    // and without <body> either — a block tag alone closes head
    val got2 = extract(
      "<html><head><meta charset=\"utf-8\"><p>paragraph content with enough characters</p>")
    assert(got2 == "paragraph content with enough characters")
  }

  test("abruptly-closed comments <!--> and <!---> are complete comments") {
    assert(extract("<body><!--><p>hello world this is enough content chars</p></body>")
      == "hello world this is enough content chars")
    assert(extract("<body><!---><p>hello world this is enough content chars</p></body>")
      == "hello world this is enough content chars")
    // normal comments still swallow to their real close
    assert(extract("<body><!-- <p>not this</p> --><p>hello world this is enough content chars</p></body>")
      == "hello world this is enough content chars")
  }

  test("60k-deep nesting extracts without StackOverflowError") {
    val depth = 60000
    val sb = new StringBuilder("<html><body>")
    (0 until depth).foreach(_ => sb.append("<span>"))
    sb.append("deeply nested but perfectly extractable paragraph content")
    (0 until depth).foreach(_ => sb.append("</span>"))
    sb.append("</body></html>")
    val doc = Extractor.extract("u", sb.toString.getBytes("UTF-8"))
    assert(doc.text == "deeply nested but perfectly extractable paragraph content")
  }

  test("charset= inside an unrelated attribute value must not hijack the charset") {
    val html = "<html><head>" +
      "<meta name=\"description\" content=\"how to use charset=shift_jis in html\">" +
      "<meta charset=\"utf-8\"></head><body><p>café résumé with enough characters</p></body></html>"
    assert(Charsets.sniff(html.getBytes("UTF-8"))._1 == Charsets.Utf8)
    assert(extract(html) == "café résumé with enough characters")
  }

  test("XHTML-style <script/> opens a script: its body never leaks into text") {
    val got = extract("<body><script src=\"x\"/>if(a&&b){do_stuff();}</script>" +
      "<p>real paragraph with enough words here</p></body>")
    assert(got == "real paragraph with enough words here")
  }

  test("self-closing foreign roots <svg/> and <math/> close at once") {
    // HTML5 honors the slash on foreign-content roots: an icon svg must not
    // open a never-closed skip subtree that eats the rest of the block, and
    // an empty <math/> must not turn the following text into a formula
    assert(extract("<p><svg/>Home is where the long paragraph text lives</p>")
      == "Home is where the long paragraph text lives")
    assert(extract("<p><math/>Home is where the long paragraph text lives</p>")
      == "Home is where the long paragraph text lives")
    // the extractor leaves link text out, so the anchor itself is pinned
    // through anchorTexts
    val arena = new TokenArena()
    for (root <- Seq("svg", "math")) {
      val pairs = HtmlTokenizer.anchorTexts(
        s"""<a href="/h"><$root class="icon"/>Home</a>""".getBytes("UTF-8"), arena)
      assert(pairs == Vector("/h" -> "Home"), pairs)
    }
    // the slash stays ignored on HTML elements: <div/> opens a div
    assert(extract("<div/>Home is where the long paragraph text lives")
      == "Home is where the long paragraph text lives")
  }

  test("CDATA wrapper markup is stripped, inner text kept") {
    assert(extract("<body><p>before <![CDATA[inside cdata text]]> after enough words here</p></body>")
      == "before inside cdata text after enough words here")
  }

  test("iso-8859-1-labeled pages decode 0x80-0x9F as cp1252 punctuation") {
    val text = "it’s a test with enough characters here"
    val bytes = ("<html><head><meta charset=\"iso-8859-1\"></head><body><p>" +
      "its a test with enough characters here</p></body></html>")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) // 0x92 byte
    assert(Extractor.extract("u", bytes).text == text) // ’ not C1 control
  }

  test("unclosed CDATA at EOF keeps its last bytes") {
    // no "]]>" closer: the opener is stripped, ALL remaining bytes are content
    val got = Extractor.extract("u",
      "<body><p>start words enough here <![CDATA[tail kept".getBytes("UTF-8")).text
    assert(got == "start words enough here tail kept", got)
    // and "]]" without ">" is real content too
    val got2 = Extractor.extract("u",
      "<body><p>start words enough here <![CDATA[tail kept]]".getBytes("UTF-8")).text
    assert(got2 == "start words enough here tail kept]]", got2)
  }

  test("the tag classes of hr, aside, h3, textarea, tbody, ol and dd shape the output") {
    def doc(body: String) = Extractor.extract("u", s"<html><body>$body</body></html>".getBytes("UTF-8"))
    // Void: <hr> closes at once, so the text after it stays the div's
    val hr = doc("<div>first part of the words<hr>second part of the words</div>")
    assert(hr.spans.map(_.tagPath) == Seq("html/body/div", "html/body/div"), hr.spans)
    // Boiler: an <aside> subtree is no content
    assert(doc("<aside><p>related reading with enough characters</p></aside>" +
      "<p>main article paragraph with enough characters</p>").text ==
      "main article paragraph with enough characters")
    // Heading: a short <h3> is a title, not short stray text
    assert(doc("<h3>Short</h3><p>main article paragraph with enough characters</p>").text ==
      "Short\n\nmain article paragraph with enough characters")
    // Pre: newlines inside <textarea> survive
    assert(doc("<div><textarea>line one words\nline two words</textarea></div>").text ==
      "line one words\nline two words")
    // Section: a new row clears back to its <tbody>, and a <tbody> start
    // closes the open <thead>
    val tb = doc("<table><thead><tr><th>head cell<tbody><tr><td>cell one words" +
      "<tr><td>cell two words</table>")
    assert(tb.spans.map(_.tagPath) == Seq("html/body/table/thead/tr/th",
      "html/body/table/tbody/tr/td", "html/body/table/tbody/tr/td"), tb.spans)
    // List: an <ol>'s items are one group
    assert(doc("<ol><li>first item words</li><li>second item words</li></ol>").text ==
      "first item words\nsecond item words")
    // Item: a short <dd> is a list item
    assert(doc("<dl><dt>Term</dt><dd>short def</dd></dl>").spans.map(_.label) ==
      Seq("item", "item"))
  }

  test("fuzz: random byte soup never throws and extracts deterministically") {
    val rng = new java.util.Random(1234)
    val fragments = Array("<div>", "</div>", "<p ", "class=\"x", "<!--", "-->",
      "<![CDATA[", "]]>", "<script>", "</script>", "<table><tr><td", "colspan=\"",
      "&amp;", "&#x", "<meta charset=\"", "text words here ", "\u00ff\u0080",
      "<", ">", "\"", "=", "<textarea>", "</head>", "<body", "%PDF-")
    for (trial <- 0 until 300) {
      val sb = new StringBuilder
      val parts = 3 + rng.nextInt(40)
      (0 until parts).foreach { _ =>
        if (rng.nextInt(4) == 0) {
          val junk = new Array[Byte](rng.nextInt(24))
          rng.nextBytes(junk)
          sb.append(new String(junk, java.nio.charset.StandardCharsets.ISO_8859_1))
        } else sb.append(fragments(rng.nextInt(fragments.length)))
      }
      val payload = sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val a = Extractor.extract(s"u$trial", payload)
      val b = Extractor.extract(s"u$trial", payload)
      assert(a.text == b.text && a.spans == b.spans, s"nondeterministic at trial $trial")
    }
  }
}
