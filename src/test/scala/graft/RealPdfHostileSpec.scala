package graft

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Extractor

/** Hostile lexical input for the PDF parser: 100,000-deep `[` and `<<`
  * nesting in a page dictionary, an object-stream body, a /ToUnicode CMap and
  * a content-stream operand, and literal strings, hex strings and
  * dictionaries left open at the end of the input. Each case returns its
  * recorded status; none may throw (a StackOverflowError escapes every
  * NonFatal catch and would kill the task). */
class RealPdfHostileSpec extends AnyFunSuite {

  private val Depth = 100000
  private val helv = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
  private val text = "BT /F1 12 Tf 50 1150 Td (Survives.) Tj ET"

  private def nest(open: String, close: String, inner: String = "1"): String =
    open * Depth + inner + close * Depth

  private def bytes(s: String): Array[Byte] = s.getBytes(StandardCharsets.ISO_8859_1)

  /** One page whose dictionary carries `pageExtra`, with /Contents 4 0 R and
    * font /F1 (inline Helvetica unless `font` names another). */
  private def doc(pageExtra: String, content: String, extraObjs: String = "",
                  font: String = helv): Array[Byte] =
    bytes("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 800 1200] " +
      s"/Contents 4 0 R /Resources << /Font << /F1 $font >> >> $pageExtra >> endobj\n" +
      s"4 0 obj << >> stream\n$content\nendstream endobj\n" +
      extraObjs +
      "trailer << /Size 9 /Root 1 0 R >>\n%%EOF")

  private def extract(pdf: Array[Byte]): (String, String) = {
    val d = Extractor.extract("u", pdf)
    (d.status, d.text)
  }

  test("100,000-deep [ and << nesting in a page dictionary") {
    assert(extract(doc("/Deep " + nest("[", "]"), text)) == (("ok", "Survives.")))
    assert(extract(doc("/Deep " + nest("<< /K ", " >>"), text)) == (("ok", "Survives.")))
  }

  test("100,000-deep nesting inside an object-stream body") {
    for (deep <- Seq(nest("[", "]"), nest("<< /K ", " >>"))) {
      val body = s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 800 1200] " +
        s"/Contents 4 0 R /Resources << /Font << /F1 $helv >> >> /Deep $deep >>"
      val header = "3 0 "
      val pdf = bytes("%PDF-1.5\n" +
        "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
        "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
        s"5 0 obj << /Type /ObjStm /N 1 /First ${header.length} " +
        s"/Length ${header.length + body.length} >> stream\n$header$body\nendstream endobj\n" +
        s"4 0 obj << >> stream\n$text\nendstream endobj\n" +
        "trailer << /Size 9 /Root 1 0 R >>\n%%EOF")
      assert(extract(pdf) == (("ok", "Survives.")))
    }
  }

  test("100,000-deep nesting inside a /ToUnicode CMap") {
    val font = "7 0 R"
    for (deep <- Seq(nest("[", "]", "<0041>"), nest("<<", ">>"))) {
      val cmap = "begincmap 1 begincodespacerange <00> <FF> endcodespacerange\n" +
        "1 beginbfchar <53> <0058> endbfchar\n" +
        s"1 beginbfrange <60> <61> $deep endbfrange\nendcmap"
      val pdf = doc("", text, s"6 0 obj << >> stream\n$cmap\nendstream endobj\n" +
        "7 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode 6 0 R >> " +
        "endobj\n", font)
      assert(extract(pdf) == (("ok", "Xurvives.")))
    }
  }

  test("100,000-deep nesting in a content-stream operand") {
    // a TJ operand is one flat array: its strings up to the first `]` show
    val arr = s"BT /F1 12 Tf 50 1150 Td ${nest("[", "]", "(Deep)")} TJ ET\n$text"
    assert(extract(doc("", arr)) == (("ok", "DeepSurvives.")))
    val dict = s"/Span ${nest("<< /K ", " >>")} BDC $text EMC"
    assert(extract(doc("", dict)) == (("ok", "Survives.")))
  }

  test("literal strings, hex strings and dictionaries open at end of input") {
    val valid = doc("", text)
    val tails = Seq("9 0 obj << /T (unterminated \\) string", "9 0 obj << /T <4142",
      "9 0 obj << /A << /B 1", "9 0 obj [ (open", "9 0 obj <<")
    for (tail <- tails)
      assert(extract(valid ++ bytes("\n" + tail)) == (("ok", "Survives.")), tail)
    val contents = Seq("(unterminated", "<4142", "<< /MCID 0", "[ (a) -250 <42")
    for (c <- contents)
      assert(extract(doc("", s"$text\nBT 50 1100 Td $c")) == (("ok", "Survives.")), c)
  }
}
