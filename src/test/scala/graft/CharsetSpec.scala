package graft

import java.nio.charset.{Charset, StandardCharsets}

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Extractor
import graft.htmltok.Charsets

/** Charset widening: alias resolution through the JVM registry, the raw-byte
  * safety classification that gates the zero-copy tokenizer path, UTF-16 BOM
  * sniffing, and end-to-end extraction in multi-byte encodings. */
class CharsetSpec extends AnyFunSuite {

  test("resolve: common crawl charset names land on the right JVM charsets") {
    assert(Charsets.resolve("utf-8") == StandardCharsets.UTF_8)
    assert(Charsets.resolve("Shift_JIS").name() == "Shift_JIS")
    assert(Charsets.resolve("shift-jis").name() == "Shift_JIS")
    assert(Charsets.resolve("sjis").name() == "Shift_JIS")
    assert(Charsets.resolve("gbk").name() == "GBK")
    assert(Charsets.resolve("gb2312").name().toUpperCase.contains("GB2312"))
    assert(Charsets.resolve("gb18030").name() == "GB18030")
    assert(Charsets.resolve("big5").name() == "Big5")
    assert(Charsets.resolve("euc-kr").name() == "EUC-KR")
    assert(Charsets.resolve("euc-jp").name() == "EUC-JP")
    assert(Charsets.resolve("koi8-r").name() == "KOI8-R")
    assert(Charsets.resolve("windows-1251").name() == "windows-1251")
    assert(Charsets.resolve("cp1251").name() == "windows-1251")
    assert(Charsets.resolve("iso-8859-2").name() == "ISO-8859-2")
    assert(Charsets.resolve("iso-8859-15").name() == "ISO-8859-15")
    // junk or unsupported names fall back to utf-8, never throw
    assert(Charsets.resolve("definitely-not-a-charset") == StandardCharsets.UTF_8)
    assert(Charsets.resolve("") == StandardCharsets.UTF_8)
    assert(Charsets.resolve("utf-7") == StandardCharsets.UTF_8)
  }

  test("rawByteSafe: ASCII supersets with trail bytes >= 0x40 are safe") {
    for (name <- Seq("UTF-8", "ISO-8859-1", "windows-1252", "windows-1251",
      "KOI8-R", "Shift_JIS", "GBK", "GB18030", "Big5", "EUC-KR", "EUC-JP"))
      assert(Charsets.rawByteSafe(Charset.forName(name)), name)
    for (name <- Seq("UTF-16", "UTF-16LE", "UTF-16BE", "ISO-2022-JP", "IBM1047"))
      assert(!Charsets.rawByteSafe(Charset.forName(name)), name)
    // multi-byte charsets OUTSIDE the known-safe families must transcode:
    // Johab trail bytes include 0x3C '<'; the 5022x JIS variants are
    // escape-switched but their canonical names don't say ISO-2022
    for (name <- Seq("x-Johab", "x-windows-50221", "x-JISAutoDetect"))
      scala.util.Try(Charset.forName(name)).foreach { cs =>
        assert(!Charsets.rawByteSafe(cs), name)
      }
  }

  test("meta-declared utf-16 means utf-8 (HTML5 rule; real utf-16 has a BOM)") {
    val doc = """<html><head><meta charset="utf-16"></head><body><p>readable ascii paragraph</p></body></html>"""
    val (cs, bom) = Charsets.sniff(doc.getBytes(StandardCharsets.UTF_8))
    assert(cs == StandardCharsets.UTF_8 && bom == 0)
    assert(Extractor.extract("u", doc.getBytes(StandardCharsets.UTF_8)).text
      == "readable ascii paragraph")
  }

  test("sniff: UTF-16 BOMs are detected") {
    assert(Charsets.sniff(Array(0xff.toByte, 0xfe.toByte, 'a'.toByte, 0))
      == ((StandardCharsets.UTF_16LE, 2)))
    assert(Charsets.sniff(Array(0xfe.toByte, 0xff.toByte, 0, 'a'.toByte))
      == ((StandardCharsets.UTF_16BE, 2)))
  }

  test("end-to-end: windows-1251 and big5 pages extract exactly") {
    val ru = "Данные обработка система распределение вычисление двигатель документ."
    val doc1 = s"""<html><head><meta charset="windows-1251"></head><body><p>$ru</p></body></html>"""
    val got1 = Extractor.extract("u", doc1.getBytes(Charset.forName("windows-1251")))
    assert(got1.text == ru)
    assert(got1.charset == "windows-1251")

    val zh = "資料處理系統分散式計算引擎文件擷取內容模型索引查詢資料處理系統分散式計算引擎"
    val doc2 = s"""<html><head><meta charset="big5"></head><body><p>$zh</p></body></html>"""
    val got2 = Extractor.extract("u", doc2.getBytes(Charset.forName("Big5")))
    assert(got2.text == zh)
  }

  test("end-to-end: the charset comes from a meta the page's tokenization holds") {
    val ru = "Данные обработка система распределение вычисление двигатель документ."
    // the meta after an abrupt comment is real; the one in the title is text
    val doc = s"""<html><head><!--><title><meta charset="koi8-r"></title>""" +
      s"""<meta charset="windows-1251"></head><body><p>$ru</p></body></html>"""
    val bytes = doc.getBytes(Charset.forName("windows-1251"))
    val got = Extractor.extract("u", bytes)
    assert(got.charset == "windows-1251")
    assert(got.text == ru)
    val title = graft.htmltok.HtmlTokenizer.headMeta(bytes, new graft.htmltok.TokenArena()).title
    assert(title == """<meta charset="koi8-r">""", title)
  }

  test("UTF-32 BOMs detected (FF FE 00 00 is NOT UTF-16LE) and extract") {
    val p = "thirty-two bit pages decode too"
    val doc = s"<html><body><p>$p</p></body></html>"
    val le = Array[Byte](0xff.toByte, 0xfe.toByte, 0, 0) ++ doc.getBytes(Charset.forName("UTF-32LE"))
    assert(Charsets.sniff(le)._1.name() == "UTF-32LE")
    assert(Extractor.extract("u", le).text == p)
    val be = Array[Byte](0, 0, 0xfe.toByte, 0xff.toByte) ++ doc.getBytes(Charset.forName("UTF-32BE"))
    assert(Charsets.sniff(be)._1.name() == "UTF-32BE")
    assert(Extractor.extract("u", be).text == p)
  }

  test("end-to-end: utf-16be page transcodes and extracts exactly") {
    val p = "Sixteen-bit pages survive — even with 中文 and emoji 😀 text."
    val doc = s"<html><body><p>$p</p></body></html>"
    val payload = Array(0xfe.toByte, 0xff.toByte) ++ doc.getBytes(StandardCharsets.UTF_16BE)
    val got = Extractor.extract("u", payload)
    assert(got.text == p)
    assert(got.charset == "utf-16be")
  }

  test("CDATA in shift_jis: a 0x5D trail byte cannot fake the ]]> closer") {
    // Shift_JIS 0x81 0x5D is a single char whose TRAIL byte is ']' — in the
    // raw byte scan it would complete a phantom "]]>" one byte early and
    // mis-close the CDATA mid-character (r2 ADVICE). Such payloads must take
    // the transcode-first path and extract exactly like their UTF-8 twin.
    val sjis = Charset.forName("Shift_JIS")
    val tricky = new String(Array[Byte](0x81.toByte, 0x5D.toByte), sjis)
    assert(tricky.length == 1 && tricky.getBytes(sjis)(1) == ']'.toByte)
    def doc(cs: String) =
      s"<html><head><meta charset=$cs></head><body><p>before paragraph text okay</p>" +
      s"<![CDATA[$tricky]>still inside cdata]]><p>after paragraph text okay</p></body></html>"
    assert(Charsets.containsCdata(doc("x").getBytes(StandardCharsets.UTF_8)))
    assert(Charsets.rawByteHazardCdata(sjis))
    assert(!Charsets.rawByteHazardCdata(StandardCharsets.UTF_8))
    val viaSjis = Extractor.extract("u", doc("shift_jis").getBytes(sjis))
    val viaUtf8 = Extractor.extract("u", doc("utf-8").getBytes(StandardCharsets.UTF_8))
    assert(viaSjis.text == viaUtf8.text, s"\nsjis: ${viaSjis.text}\nutf8: ${viaUtf8.text}")
    assert(viaSjis.text.contains("after paragraph text okay"))
    assert(viaSjis.charset == "shift_jis")
    // the chunked path must route it through the same passthrough gate
    val chunked = graft.pipeline.ChunkedExtract.extractLocal(
      graft.model.PageRow("u", new java.sql.Timestamp(0L),
        doc("shift_jis").getBytes(sjis), null, "ja"),
      chunkThreshold = 0, minChunkBytes = 64)
    assert(chunked.text == viaSjis.text)
  }

  test("multi-byte trail bytes never break tokenization (shift_jis stress)") {
    // ソ is the classic Shift_JIS trap: its trail byte is 0x5C ('\\'); ensure
    // structural parsing is unaffected and text round-trips
    val ja = "ソフトウェアソースソート表能申"
    val doc = s"""<html><head><meta charset="shift_jis"></head><body><p>$ja</p><p>second paragraph here</p></body></html>"""
    val got = Extractor.extract("u", doc.getBytes(Charset.forName("Shift_JIS")))
    assert(got.text == s"$ja\n\nsecond paragraph here")
  }
}
