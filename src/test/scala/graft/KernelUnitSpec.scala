package graft

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{Entities, ExtractConfig, Extractor, TextNormalizer}
import graft.htmltok.Charsets

/** Unit tests for the kernel's edge rules: tag-soup recovery, charset sniff,
  * entity decode, whitespace normalization (SURVEY.md §5 per-module split).
  */
class KernelUnitSpec extends AnyFunSuite {

  private def extract(html: String): String =
    Extractor.extract("u", html.getBytes(StandardCharsets.UTF_8), ExtractConfig()).text

  test("p auto-closes an open p sibling") {
    assert(extract("<body><p>one two three four five<p>six seven eight nine ten</body>")
      == "one two three four five\n\nsix seven eight nine ten")
  }

  test("block start tag closes an open p") {
    assert(extract("<body><p>first paragraph of words<div>second block of words here</div></body>")
      == "first paragraph of words\n\nsecond block of words here")
  }

  test("stray end tags are ignored") {
    assert(extract("<body></div></span><p>the only real paragraph here</p></table></body>")
      == "the only real paragraph here")
  }

  test("li auto-closes li; list items group with newlines") {
    assert(extract("<body><ul><li>first item words here<li>second item words here</ul></body>")
      == "first item words here\nsecond item words here")
  }

  test("script content with angle brackets is not parsed as markup") {
    assert(extract("<body><script>if(a<b){x='<p>no</p>'}</script><p>kept paragraph of words</p></body>")
      == "kept paragraph of words")
  }

  test("unclosed comment swallows to EOF") {
    assert(extract("<body><p>kept paragraph of words</p><!-- dangling comment <p>gone</p>")
      == "kept paragraph of words")
  }

  test("void elements never push the stack") {
    assert(extract("<body><p>line one words here<br><img src=x>line two words here</p></body>")
      == "line one words here line two words here")
  }

  test("charset sniff: BOM wins, then meta, else utf-8") {
    val bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ "<html>".getBytes("UTF-8")
    assert(Charsets.sniff(bom) == (Charsets.Utf8, 3))
    // WHATWG: the iso-8859-1 label family maps to windows-1252
    val meta = """<html><head><meta charset="iso-8859-1"></head>""".getBytes("UTF-8")
    assert(Charsets.sniff(meta)._1.name() == "windows-1252")
    val metaHttp = """<meta http-equiv="Content-Type" content="text/html; charset=windows-1252">""".getBytes("UTF-8")
    assert(Charsets.sniff(metaHttp)._1.name() == "windows-1252")
    assert(Charsets.sniff("<html>plain".getBytes("UTF-8"))._1 == Charsets.Utf8)
    // the prescan reads the <meta> tags the tokenizer emits, and only those
    val real = """<meta charset="windows-1251">"""
    val prefix = "<html><head>"
    val fill = 1024 - prefix.length - real.length // real then ends at byte 1,024
    val cases = Seq(
      "<!-->" + real -> "windows-1251", // abrupt comments end at once
      "<!--->" + real -> "windows-1251",
      """<metadata charset="koi8-r">""" + real -> "windows-1251", // not a meta
      """<meta-x charset="koi8-r">""" + real -> "windows-1251",
      """<link title="<meta charset=koi8-r>">""" + real -> "windows-1251", // a value
      // first of a repeated attribute wins
      """<meta http-equiv="content-type" http-equiv="refresh" content="text/html; charset=windows-1251">""" ->
        "windows-1251",
      """<meta http-equiv="content-type" content="text/html; charset=windows-1251" content="text/html; charset=koi8-r">""" ->
        "windows-1251",
      // rawtext/RCDATA bodies and CDATA are text
      "<script>var s = '<meta charset=koi8-r>'</script>" + real -> "windows-1251",
      "<title><meta charset=koi8-r></title>" + real -> "windows-1251",
      "<![CDATA[<meta charset=koi8-r>]]>" + real -> "windows-1251",
      // values are entity-decoded
      """<meta charset="windows&#45;1251">""" -> "windows-1251",
      // a tag without its '>' inside the first 1,024 bytes is not read
      " " * (fill + 1) + real -> "UTF-8",
      " " * fill + real -> "windows-1251")
    for ((head, want) <- cases)
      assert(Charsets.sniff(s"$prefix$head</head><body>x</body>".getBytes("UTF-8"))._1.name() == want,
        head.trim)
  }

  test("entity decode: named, decimal, hex, unknown passthrough, double-escape") {
    assert(Entities.decode("a &amp; b") == "a & b")
    assert(Entities.decode("&#65;&#x42;") == "AB")
    assert(Entities.decode("&bogus; stays") == "&bogus; stays")
    assert(Entities.decode("&amp;amp;") == "&amp;") // decoded exactly once
    assert(Entities.decode("no entities") == "no entities")
    assert(Entities.decode("&nbsp;") == "\u00a0") // NBSP; normalized later
  }

  test("whitespace normalization collapses runs incl. NBSP and trims") {
    assert(TextNormalizer.normalize("  a\t\tb  c\n") == "a b c")
    assert(TextNormalizer.normalize("") == "")
    assert(TextNormalizer.normalize(" \t\n ") == "")
  }

  test("hyphenated custom elements close properly (end-tag name charset)") {
    // regression: '</my-element>' must pop '<my-element>', or the sidebar
    // class hint would leak onto the following paragraph
    assert(extract("""<body><my-element class="sidebar">menu stuff</my-element><p>the real article paragraph here</p></body>""")
      == "the real article paragraph here")
  }

  test("rawtext close requires a tag-name boundary (</scripty> stays text)") {
    assert(extract("""<body><script>var s = "</scriptFragment>"; evil();</script><p>kept paragraph of words</p></body>""")
      == "kept paragraph of words")
  }

  test("charset= outside a meta tag is ignored") {
    val doc = """<html><head><link href="/css?charset=latin-1"><meta charset="utf-8"></head><body><p>café résumé words enough here</p></body></html>"""
    val got = graft.extract.Extractor.extract("u", doc.getBytes(StandardCharsets.UTF_8), ExtractConfig())
    assert(got.charset == "utf-8", got.charset)
    assert(got.text == "café résumé words enough here")
  }

  test("<br> inside <pre> is a preserved line break") {
    assert(extract("<body><pre>line one words<br>line two words</pre></body>")
      == "line one words\nline two words")
    assert(extract("<body><p>line one words<br>line two words</p></body>")
      == "line one words line two words")
  }

  test("pdf span offsets are byte offsets (multi-byte payload)") {
    val payload = "%PDF-GRAFT 1.0\npage 800 1200\nblock 50 100 700 80 café résumé\nblock 50 300 700 80 plain text here\nendpage\n"
    val bytes = payload.getBytes(StandardCharsets.UTF_8)
    val doc = graft.extract.Extractor.extract("u", bytes, ExtractConfig())
    val second = doc.spans(1)
    val sliced = new String(bytes, second.start, second.end - second.start, StandardCharsets.UTF_8)
    assert(sliced.contains("plain text here"), sliced)
  }

  test("latin-1 payload decodes via meta charset") {
    val doc = """<html><head><meta charset="iso-8859-1"></head><body><p>café naïve garçon über</p></body></html>"""
      .replace("\\u00e9", "é").replace("\\u00ef", "ï")
    val bytes = doc.getBytes(StandardCharsets.ISO_8859_1)
    val got = Extractor.extract("u", bytes, ExtractConfig()).text
    assert(got == "café naïve garçon über")
  }

  test("textarea and title are RCDATA: tags inside are literal text") {
    import graft.extract.{ExtractConfig, Extractor}
    val doc = ("<html><body><p>before paragraph text</p>" +
      "<textarea><b>not bold</b> &amp; raw</textarea>" +
      "<p>after paragraph text</p></body></html>").getBytes("UTF-8")
    val got = Extractor.extract("u", doc)
    // <b> must NOT become an element; entities still decode (RCDATA)
    assert(got.text == "before paragraph text\n\n<b>not bold</b> & raw\n\nafter paragraph text", got.text)
    // title inside head stays excluded even as rawtext
    val doc2 = "<html><head><title>x <p>y</p></title></head><body><p>z paragraph text here</p></body></html>".getBytes("UTF-8")
    assert(Extractor.extract("u", doc2).text == "z paragraph text here")
  }
}
