package graft.pdf

import java.nio.charset.{Charset, StandardCharsets}

/** Simple-font encoding tables — public ISO 32000-1 Appendix D data plus the
  * (public) Adobe Glyph List subset those tables and real-world /Differences
  * arrays use.
  *
  * The reference never needs these: it rasterizes every PDF page and OCRs the
  * pixels (ppocr/utils/utility.py:119-152), so font encodings are the
  * renderer's problem. Direct content-stream extraction (our honest JVM-only
  * equivalent) must decode show-string bytes itself: a font WITHOUT a
  * /ToUnicode CMap but WITH `/Encoding /WinAnsiEncoding` (or a /Differences
  * array) yields wrong text for every non-ASCII glyph unless these tables are
  * applied — the most common real-world shape for older/simple PDFs.
  *
  * Table construction notes (all public knowledge):
  *  - WinAnsiEncoding is cp1252 (the JVM ships windows-1252) with Appendix D
  *    quirks: codes undefined in cp1252 map to bullet (Appendix D note 5:
  *    "all unused codes greater than 40 map to bullet"), 0xA0 is "space" and
  *    0xAD is "hyphen" (not nbsp / soft hyphen).
  *  - MacRomanEncoding is Mac OS Roman (JVM "x-MacRoman") with the pre-8.5
  *    currency sign at 0xDB (Apple later swapped it for the euro; PDF kept
  *    "currency") and "space" at 0xCA (the nbsp slot).
  *  - StandardEncoding is hand-authored from the Appendix D table (note the
  *    0x27 → quoteright and 0x60 → quoteleft quirks).
  * A null table slot = code undefined in that encoding → the caller keeps its
  * Latin-ish fallback char (never a silent drop).
  */
object Encodings {

  // ------------------------------------------------------- glyph name → text

  /** AGL subset: every glyph name used by the three base encodings plus the
    * names real /Differences arrays carry (Latin-1 letters, typographic
    * punctuation, the MacRoman symbol set). Data from the public Adobe Glyph
    * List. */
  private val named: Map[String, String] = {
    val b = Map.newBuilder[String, String]
    def p(n: String, cp: Int): Unit = b += n -> new String(Character.toChars(cp))
    // ASCII
    p("space", 0x20); p("exclam", 0x21); p("quotedbl", 0x22); p("numbersign", 0x23)
    p("dollar", 0x24); p("percent", 0x25); p("ampersand", 0x26); p("quotesingle", 0x27)
    p("parenleft", 0x28); p("parenright", 0x29); p("asterisk", 0x2a); p("plus", 0x2b)
    p("comma", 0x2c); p("hyphen", 0x2d); p("period", 0x2e); p("slash", 0x2f)
    p("zero", 0x30); p("one", 0x31); p("two", 0x32); p("three", 0x33); p("four", 0x34)
    p("five", 0x35); p("six", 0x36); p("seven", 0x37); p("eight", 0x38); p("nine", 0x39)
    p("colon", 0x3a); p("semicolon", 0x3b); p("less", 0x3c); p("equal", 0x3d)
    p("greater", 0x3e); p("question", 0x3f); p("at", 0x40)
    for (c <- 'A' to 'Z') b += c.toString -> c.toString
    p("bracketleft", 0x5b); p("backslash", 0x5c); p("bracketright", 0x5d)
    p("asciicircum", 0x5e); p("underscore", 0x5f); p("grave", 0x60)
    for (c <- 'a' to 'z') b += c.toString -> c.toString
    p("braceleft", 0x7b); p("bar", 0x7c); p("braceright", 0x7d); p("asciitilde", 0x7e)
    // Latin-1 supplement
    p("nbspace", 0xa0); p("exclamdown", 0xa1); p("cent", 0xa2); p("sterling", 0xa3)
    p("currency", 0xa4); p("yen", 0xa5); p("brokenbar", 0xa6); p("section", 0xa7)
    p("dieresis", 0xa8); p("copyright", 0xa9); p("ordfeminine", 0xaa)
    p("guillemotleft", 0xab); p("logicalnot", 0xac); p("sfthyphen", 0xad)
    p("registered", 0xae); p("macron", 0xaf); p("degree", 0xb0); p("plusminus", 0xb1)
    p("twosuperior", 0xb2); p("threesuperior", 0xb3); p("acute", 0xb4); p("mu", 0xb5)
    p("paragraph", 0xb6); p("periodcentered", 0xb7); p("cedilla", 0xb8)
    p("onesuperior", 0xb9); p("ordmasculine", 0xba); p("guillemotright", 0xbb)
    p("onequarter", 0xbc); p("onehalf", 0xbd); p("threequarters", 0xbe)
    p("questiondown", 0xbf)
    p("Agrave", 0xc0); p("Aacute", 0xc1); p("Acircumflex", 0xc2); p("Atilde", 0xc3)
    p("Adieresis", 0xc4); p("Aring", 0xc5); p("AE", 0xc6); p("Ccedilla", 0xc7)
    p("Egrave", 0xc8); p("Eacute", 0xc9); p("Ecircumflex", 0xca); p("Edieresis", 0xcb)
    p("Igrave", 0xcc); p("Iacute", 0xcd); p("Icircumflex", 0xce); p("Idieresis", 0xcf)
    p("Eth", 0xd0); p("Ntilde", 0xd1); p("Ograve", 0xd2); p("Oacute", 0xd3)
    p("Ocircumflex", 0xd4); p("Otilde", 0xd5); p("Odieresis", 0xd6); p("multiply", 0xd7)
    p("Oslash", 0xd8); p("Ugrave", 0xd9); p("Uacute", 0xda); p("Ucircumflex", 0xdb)
    p("Udieresis", 0xdc); p("Yacute", 0xdd); p("Thorn", 0xde); p("germandbls", 0xdf)
    p("agrave", 0xe0); p("aacute", 0xe1); p("acircumflex", 0xe2); p("atilde", 0xe3)
    p("adieresis", 0xe4); p("aring", 0xe5); p("ae", 0xe6); p("ccedilla", 0xe7)
    p("egrave", 0xe8); p("eacute", 0xe9); p("ecircumflex", 0xea); p("edieresis", 0xeb)
    p("igrave", 0xec); p("iacute", 0xed); p("icircumflex", 0xee); p("idieresis", 0xef)
    p("eth", 0xf0); p("ntilde", 0xf1); p("ograve", 0xf2); p("oacute", 0xf3)
    p("ocircumflex", 0xf4); p("otilde", 0xf5); p("odieresis", 0xf6); p("divide", 0xf7)
    p("oslash", 0xf8); p("ugrave", 0xf9); p("uacute", 0xfa); p("ucircumflex", 0xfb)
    p("udieresis", 0xfc); p("yacute", 0xfd); p("thorn", 0xfe); p("ydieresis", 0xff)
    // typographic / Latin Extended
    p("quoteleft", 0x2018); p("quoteright", 0x2019); p("quotedblleft", 0x201c)
    p("quotedblright", 0x201d); p("quotesinglbase", 0x201a); p("quotedblbase", 0x201e)
    p("endash", 0x2013); p("emdash", 0x2014); p("bullet", 0x2022); p("dagger", 0x2020)
    p("daggerdbl", 0x2021); p("ellipsis", 0x2026); p("perthousand", 0x2030)
    p("guilsinglleft", 0x2039); p("guilsinglright", 0x203a); p("fraction", 0x2044)
    p("florin", 0x0192); p("OE", 0x0152); p("oe", 0x0153); p("Scaron", 0x0160)
    p("scaron", 0x0161); p("Zcaron", 0x017d); p("zcaron", 0x017e); p("Ydieresis", 0x0178)
    p("circumflex", 0x02c6); p("tilde", 0x02dc); p("trademark", 0x2122)
    p("Euro", 0x20ac); p("minus", 0x2212); p("dotlessi", 0x0131)
    p("Lslash", 0x0141); p("lslash", 0x0142); p("ring", 0x02da); p("breve", 0x02d8)
    p("dotaccent", 0x02d9); p("hungarumlaut", 0x02dd); p("ogonek", 0x02db)
    p("caron", 0x02c7)
    b += "fi" -> "ﬁ"; b += "fl" -> "ﬂ"
    // MacRoman symbol slots (so a MacRoman-targeting Differences resolves too)
    p("Delta", 0x2206); p("Omega", 0x2126); p("pi", 0x03c0); p("infinity", 0x221e)
    p("integral", 0x222b); p("partialdiff", 0x2202); p("summation", 0x2211)
    p("product", 0x220f); p("radical", 0x221a); p("lozenge", 0x25ca)
    p("approxequal", 0x2248); p("notequal", 0x2260); p("lessequal", 0x2264)
    p("greaterequal", 0x2265); p("apple", 0xf8ff)
    b.result()
  }

  /** Resolve one glyph name to its text: the AGL-subset table, the `uniXXXX`
    * (one or more 4-hex-digit UTF-16 units) and `uXXXX[XX]` (4-6 hex digits,
    * one codepoint) conventions, else None (caller keeps its fallback). */
  def glyph(name: String): Option[String] = {
    named.get(name).orElse {
      if (name.startsWith("uni") && name.length >= 7 &&
          (name.length - 3) % 4 == 0 && isHex(name, 3)) {
        val sb = new java.lang.StringBuilder((name.length - 3) / 4)
        var i = 3
        while (i < name.length) {
          sb.append(Integer.parseInt(name.substring(i, i + 4), 16).toChar)
          i += 4
        }
        Some(sb.toString)
      } else if (name.startsWith("u") && name.length >= 5 && name.length <= 7 &&
                 isHex(name, 1)) {
        val cp = Integer.parseInt(name.substring(1), 16)
        if (Character.isValidCodePoint(cp)) Some(new String(Character.toChars(cp)))
        else None
      } else None
    }
  }

  private def isHex(s: String, from: Int): Boolean = {
    var i = from
    while (i < s.length) {
      if (Character.digit(s.charAt(i), 16) < 0) return false
      i += 1
    }
    true
  }

  // ---------------------------------------------------------- base encodings

  private def charsetTable(csName: String): Array[String] = {
    val out = new Array[String](256)
    val cs = Charset.forName(csName)
    var c = 0x20
    while (c <= 0xff) {
      val s = new String(Array(c.toByte), cs)
      // U+FFFD = the byte is unmapped in this charset; leave the slot null
      if (s.length == 1 && s.charAt(0) != '�') out(c) = s
      c += 1
    }
    out
  }

  /** WinAnsiEncoding: cp1252 with the Appendix D quirks (see object doc). */
  lazy val winAnsi: Array[String] = {
    val t = charsetTable("windows-1252")
    // unused cp1252 codes > 0x40 are defined as bullet in WinAnsiEncoding
    for (c <- Seq(0x81, 0x8d, 0x8f, 0x90, 0x9d)) t(c) = "•"
    t(0xa0) = " " // "space", not nbsp
    t(0xad) = "-" // "hyphen", not soft hyphen
    t
  }

  /** MacRomanEncoding: Mac OS Roman with the PDF-era currency sign at 0xDB
    * and "space" in the nbsp slot (see object doc). */
  lazy val macRoman: Array[String] = {
    val t = charsetTable("x-MacRoman")
    t(0xdb) = "¤" // currency (Apple's euro came later; PDF kept currency)
    t(0xca) = " "      // "space", not nbsp
    t
  }

  /** Adobe StandardEncoding, hand-authored from ISO 32000-1 Appendix D.2.
    * ASCII is identity EXCEPT 0x27 → quoteright and 0x60 → quoteleft; the
    * high range carries the Adobe symbol/ligature set; unlisted codes stay
    * null (undefined → caller fallback). */
  lazy val standard: Array[String] = {
    val t = new Array[String](256)
    var c = 0x20
    while (c <= 0x7e) { t(c) = c.toChar.toString; c += 1 }
    t(0x27) = "’" // quoteright
    t(0x60) = "‘" // quoteleft
    val high: Seq[(Int, Int)] = Seq(
      0xa1 -> 0xa1,   // exclamdown
      0xa2 -> 0xa2,   // cent
      0xa3 -> 0xa3,   // sterling
      0xa4 -> 0x2044, // fraction
      0xa5 -> 0xa5,   // yen
      0xa6 -> 0x192,  // florin
      0xa7 -> 0xa7,   // section
      0xa8 -> 0xa4,   // currency
      0xa9 -> 0x27,   // quotesingle
      0xaa -> 0x201c, // quotedblleft
      0xab -> 0xab,   // guillemotleft
      0xac -> 0x2039, // guilsinglleft
      0xad -> 0x203a, // guilsinglright
      0xae -> 0xfb01, // fi
      0xaf -> 0xfb02, // fl
      0xb1 -> 0x2013, // endash
      0xb2 -> 0x2020, // dagger
      0xb3 -> 0x2021, // daggerdbl
      0xb4 -> 0xb7,   // periodcentered
      0xb6 -> 0xb6,   // paragraph
      0xb7 -> 0x2022, // bullet
      0xb8 -> 0x201a, // quotesinglbase
      0xb9 -> 0x201e, // quotedblbase
      0xba -> 0x201d, // quotedblright
      0xbb -> 0xbb,   // guillemotright
      0xbc -> 0x2026, // ellipsis
      0xbd -> 0x2030, // perthousand
      0xbf -> 0xbf,   // questiondown
      0xc1 -> 0x60,   // grave
      0xc2 -> 0xb4,   // acute
      0xc3 -> 0x2c6,  // circumflex
      0xc4 -> 0x2dc,  // tilde
      0xc5 -> 0xaf,   // macron
      0xc6 -> 0x2d8,  // breve
      0xc7 -> 0x2d9,  // dotaccent
      0xc8 -> 0xa8,   // dieresis
      0xca -> 0x2da,  // ring
      0xcb -> 0xb8,   // cedilla
      0xcd -> 0x2dd,  // hungarumlaut
      0xce -> 0x2db,  // ogonek
      0xcf -> 0x2c7,  // caron
      0xd0 -> 0x2014, // emdash
      0xe1 -> 0xc6,   // AE
      0xe3 -> 0xaa,   // ordfeminine
      0xe8 -> 0x141,  // Lslash
      0xe9 -> 0xd8,   // Oslash
      0xea -> 0x152,  // OE
      0xeb -> 0xba,   // ordmasculine
      0xf1 -> 0xe6,   // ae
      0xf5 -> 0x131,  // dotlessi
      0xf8 -> 0x142,  // lslash
      0xf9 -> 0xf8,   // oslash
      0xfa -> 0x153,  // oe
      0xfb -> 0xdf)   // germandbls
    for ((code, cp) <- high) t(code) = new String(Character.toChars(cp))
    t
  }

  /** Base table by PDF encoding name. */
  def baseTable(name: String): Option[Array[String]] = name match {
    case "WinAnsiEncoding"  => Some(winAnsi)
    case "MacRomanEncoding" => Some(macRoman)
    case "StandardEncoding" => Some(standard)
    // PDFDocEncoding appears in strings, not font programs, but a writer that
    // names it anyway is closest to WinAnsi for the printable range
    case "PDFDocEncoding"   => Some(winAnsi)
    case _                  => None
  }

  /** Apply a /Differences array body (the text between '[' and ']') over a
    * COPY of `base`: an integer sets the code cursor, each following name
    * assigns sequentially (ISO 32000-1 §9.6.6.1). Unresolvable glyph names
    * clear the slot to null (undefined → caller fallback — never a wrong
    * char). */
  def withDifferences(base: Array[String], diffsBody: String): Array[String] =
    withDifferences(base, PdfValue.parseAll(diffsBody.getBytes(StandardCharsets.ISO_8859_1)))

  private[pdf] def withDifferences(base: Array[String], items: Seq[PVal]): Array[String] = {
    val t = base.clone()
    var code = -1
    items.foreach {
      // an overlong or signed integer in a hostile /Differences array
      // invalidates the CURSOR only (-1 = following names are ignored), never
      // the document
      case PInt(v) => code = if (v >= 0 && v <= Int.MaxValue) v.toInt else -1
      case PName(n) if code >= 0 && code < 256 => t(code) = glyph(n).orNull; code += 1
      case _ =>
    }
    t
  }
}
