package graft.htmltok

import java.nio.charset.{Charset, StandardCharsets}

/** Token kinds. Kept as raw bytes in a flat arena (no per-token objects) — the
  * JVM analog of the reference pushing hot loops to native code
  * (ppocr/postprocess/pse_postprocess/pse/__init__.py:20-29 compiles C++ at import;
  * our hot path is primitive-array Scala that stays JIT/escape-analysis friendly).
  */
object Tok {
  final val Text: Byte = 0
  final val Start: Byte = 1
  final val End: Byte = 2
  final val SelfClose: Byte = 3
  final val Comment: Byte = 4
  final val Doctype: Byte = 5
  final val Cdata: Byte = 6
}

/** Flat token arena: parallel primitive arrays, reused across documents within a
  * partition (call `reset()` between docs). Offsets are byte offsets into the raw
  * input and PARTITION it: for every i, ends(i) == starts(i+1), starts(0) == 0,
  * ends(size-1) == input length (property-tested; FIXTURES.md §5a).
  */
final class TokenArena(initialCapacity: Int = 1024) {
  var size: Int = 0
  var kinds: Array[Byte] = new Array[Byte](initialCapacity)
  var starts: Array[Int] = new Array[Int](initialCapacity)
  var ends: Array[Int] = new Array[Int](initialCapacity)
  var tagIds: Array[Int] = new Array[Int](initialCapacity) // -1 for non-tags
  var flags: Array[Int] = new Array[Int](initialCapacity)
  /** the tokenizer's attribute reader, reused for every start tag */
  private[htmltok] val attrs = new AttrScanner

  // per-document tag-name intern table: id → name and id → HtmlNames class
  private val internMap = new java.util.HashMap[String, Integer](64)
  private val internNames = new scala.collection.mutable.ArrayBuffer[String](64)
  private var internClasses = new Array[Int](64)

  def reset(): Unit = { size = 0; internMap.clear(); internNames.clear() }

  def tagName(id: Int): String = internNames(id)

  /** The [[HtmlNames]] class bits of interned tag `id`. */
  def tagClass(id: Int): Int = internClasses(id)

  def intern(name: String): Int = {
    val got = internMap.get(name)
    if (got ne null) got.intValue()
    else {
      val id = internNames.length
      internNames += name
      internMap.put(name, id)
      if (id == internClasses.length) internClasses = java.util.Arrays.copyOf(internClasses, id * 2)
      internClasses(id) = HtmlNames.classOf(name)
      id
    }
  }

  private def grow(): Unit = {
    val cap = kinds.length * 2
    kinds = java.util.Arrays.copyOf(kinds, cap)
    starts = java.util.Arrays.copyOf(starts, cap)
    ends = java.util.Arrays.copyOf(ends, cap)
    tagIds = java.util.Arrays.copyOf(tagIds, cap)
    flags = java.util.Arrays.copyOf(flags, cap)
  }

  def add(kind: Byte, start: Int, end: Int, tagId: Int, flag: Int): Unit = {
    if (size == kinds.length) grow()
    kinds(size) = kind
    starts(size) = start
    ends(size) = end
    tagIds(size) = tagId
    flags(size) = flag
    size += 1
  }
}

object TokenFlags {
  /** start-tag carries an href attribute (link-density feature input) */
  final val HasHref = 1
  /** class/id attribute matches the boilerplate-hint lexicon */
  final val HintBoiler = 2
  /** class/id attribute matches the content-hint lexicon */
  final val HintContent = 4
  // colspan-1 / rowspan-1 packed in bits 4..13 / 14..23 (0 ⇒ span 1; the
  // HTML5 clamp is 1000, we cap at the 10-bit 1023) — table structure decode
  // carries spans like the reference (ppocr/postprocess/table_postprocess.py:60-94).
  // Seen-markers make repeated attributes first-one-wins (browsers' rule) —
  // OR-merging a duplicate would produce a span matching neither value.
  final val ColspanShift = 4
  final val RowspanShift = 14
  final val SpanMask = 0x3ff
  final val ColspanSeen = 1 << 24
  final val RowspanSeen = 1 << 25
  /** start tag carries an encoding attribute whose value mentions "tex"
    * other than as the prefix of "text" (so "text/plain"/"text/html" prose
    * alternates do NOT pose as TeX, while "text/x-tex" still does) —
    * consulted only on `<annotation>` elements inside `<math>` (the MathML
    * `encoding="application/x-tex"` convention; formula-branch source
    * selection, the graft of the reference's equation region → LaTeX text
    * contract, ppstructure/predict_system.py:171-174) */
  final val TexEncoding = 1 << 26

  def colspan(flag: Int): Int = ((flag >>> ColspanShift) & SpanMask) + 1
  def rowspan(flag: Int): Int = ((flag >>> RowspanShift) & SpanMask) + 1

  /** Encode a span attribute value (1 ⇒ no bits set). */
  def packSpan(value: Int, shift: Int): Int = {
    val v = math.min(math.max(value, 1), 1000) - 1
    v << shift
  }
}

/** Charset sniffing: BOM (UTF-8 / UTF-16), then `<meta charset=...>` /
  * http-equiv content-type in the first 1024 bytes, else UTF-8. The analog of
  * DecodeImage's channel-order dispatch (ppocr/data/imaug/operators.py:29-61)
  * for byte payloads — and the graft of the reference's ~40 per-language dicts
  * (ppocr/utils/dict/): the JVM charset registry IS the dict table.
  *
  * Two decode regimes (see `rawByteSafe`):
  *  - ASCII-superset encodings where no multi-byte sequence can contain a
  *    structural byte (< 0x40: the '<' '>' '"' '\'' '=' '/' '&' ';' family):
  *    utf-8, all latin/windows/koi8 single-byte pages, and the CJK families
  *    shift_jis / gbk / gb18030 / big5 / euc-jp / euc-kr, whose trail bytes
  *    are ≥ 0x40 by construction. These tokenize on raw bytes; text decodes
  *    per block with the sniffed charset (the zero-copy fast path).
  *  - everything else (utf-16/utf-32, escape-switched iso-2022-*, EBCDIC)
  *    transcodes to UTF-8 FIRST, then tokenizes (Extractor.extract routes).
  */
object Charsets {
  val Utf8: Charset = StandardCharsets.UTF_8

  // cache: charset resolution + safety classification are hot (per document)
  private val resolveCache = new java.util.concurrent.ConcurrentHashMap[String, Charset]()
  private val safeCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  def resolve(name: String): Charset = {
    val key = name.toLowerCase(java.util.Locale.ROOT) // tr-TR 'I'→'ı' trap
    val cached = resolveCache.get(key)
    if (cached != null) return cached
    val cs = key match {
      case "utf-8" | "utf8" => Utf8
      // WHATWG encoding standard: the ascii / latin1 / iso-8859-1 label
      // family maps to windows-1252 — real pages labeled iso-8859-1
      // overwhelmingly contain cp1252 punctuation in 0x80-0x9F, which plain
      // ISO-8859-1 would decode to invisible C1 control characters
      case "latin-1" | "latin1" | "iso-8859-1" | "iso8859-1" | "ascii" | "us-ascii" =>
        Charset.forName("windows-1252")
      // the long tail goes through the JVM registry, which knows the standard
      // alias webs (sjis/shift-jis/ms_kanji → Shift_JIS, cpNNNN →
      // windows-NNNN, gb2312/gbk/big5/euc-kr/koi8-r/iso-8859-N/tis-620 …);
      // unknown or unsupported names fall back to UTF-8
      case other =>
        try Charset.forName(other)
        catch { case _: Exception => Utf8 }
    }
    // bounded: the key is an arbitrary page-supplied label (attacker bytes);
    // an unbounded process-lifetime map would grow with label cardinality
    // over a long-lived executor. 4096 covers every real label web; past it
    // the resolve still works, it just isn't memoized
    if (resolveCache.size < 4096) resolveCache.put(key, cs)
    cs
  }

  /** Canonical names of multi-byte charsets whose sequences never contain a
    * byte the raw tokenizer treats as TAG-structural. The precise invariant
    * (r2 ADVICE): trail bytes stay ≥ 0x40 in these families EXCEPT GB18030's
    * 4-byte form (2nd/4th bytes 0x30-0x39 — digits, not structural), and the
    * only structural byte ≥ 0x40 anywhere in the scanner is ']' (0x5D, a
    * legal Shift_JIS/Big5/GBK trail) in the CDATA "]]>" scan — which is why
    * CDATA-bearing payloads in non-UTF-8 multi-byte charsets are routed to
    * the transcode-first path instead ([[rawByteHazardCdata]]). This is a
    * whitelist on purpose: default-allow would wrongly admit e.g. Johab
    * (trail bytes include 0x3C '<') or the escape-switched x-windows-5022x
    * JIS variants whose names don't contain "ISO-2022". */
  private val multiByteSafe: Set[String] = Set(
    "UTF-8", "Shift_JIS", "windows-31j", "x-MS932_0213", "GBK", "GB2312",
    "x-mswin-936", "GB18030", "Big5", "Big5-HKSCS", "x-windows-950",
    "EUC-JP", "EUC-KR", "x-windows-949")

  /** True when raw-byte tokenization is sound for this charset: it must be an
    * ASCII superset AND no multi-byte sequence may contain a byte < 0x40
    * (every HTML-structural byte is < 0x40, so '<' etc. are then unambiguous).
    * Sound = single-byte charsets passing an ASCII-roundtrip probe (rejects
    * EBCDIC-style non-supersets), or the whitelisted multi-byte families
    * above. Everything else — UTF-16/32, ISO-2022, Johab, autodetectors —
    * takes the transcode-first path. */
  def rawByteSafe(cs: Charset): Boolean = {
    val key = cs.name()
    val cached = safeCache.get(key)
    if (cached != null) return cached.booleanValue()
    val safe =
      if (multiByteSafe.contains(key)) true
      else {
        val singleByte =
          try cs.canEncode && cs.newEncoder().maxBytesPerChar() == 1.0f
          catch { case _: Exception => false }
        if (!singleByte) false
        else {
          // ASCII roundtrip probe: 0x00-0x7F must decode to themselves
          val ascii = Array.tabulate[Byte](128)(_.toByte)
          val dec = new String(ascii, cs)
          dec.length == 128 && (0 until 128).forall(i => dec.charAt(i) == i.toChar)
        }
      }
    safeCache.put(key, java.lang.Boolean.valueOf(safe))
    safe
  }

  /** True when `cs` is raw-byte-safe EXCEPT for the CDATA "]]>" scan: ']'
    * (0x5D) is a legal trail byte in the non-UTF-8 multi-byte families, so a
    * CDATA section there can appear to close one byte early, mid-character.
    * UTF-8 is immune (trail bytes ≥ 0x80). Callers route such payloads to
    * the transcode-first path when they actually contain a CDATA opener. */
  def rawByteHazardCdata(cs: Charset): Boolean =
    multiByteSafe.contains(cs.name()) && cs != Utf8

  /** True when the raw-byte tokenizer may run on `input` in `cs`: the charset
    * is [[rawByteSafe]], and a CDATA section cannot mis-close mid-character
    * (']' can be a trail byte of the non-UTF-8 multi-byte charsets, so their
    * CDATA-bearing payloads take the transcode-first path instead). */
  def rawBytesOk(cs: Charset, input: Array[Byte]): Boolean =
    rawByteSafe(cs) && !(rawByteHazardCdata(cs) && containsCdata(input))

  /** The transcode-first rule: `input` past its `bom` bytes, decoded in `cs`,
    * a leading U+FEFF dropped, re-encoded as UTF-8. */
  def toUtf8(input: Array[Byte], cs: Charset, bom: Int): Array[Byte] = {
    val decoded = new String(input, bom, input.length - bom, cs)
    val start = if (decoded.nonEmpty && decoded.charAt(0) == '\uFEFF') 1 else 0
    decoded.substring(start).getBytes(Utf8)
  }

  /** Does the payload contain a "<![CDATA[" opener (case-insensitive, same
    * match as the tokenizer's)? Only consulted for the rare multi-byte
    * non-UTF-8 charsets — never on the hot path. */
  def containsCdata(b: Array[Byte]): Boolean = {
    var i = 0
    val n = b.length
    while (i + 8 < n) {
      if (b(i) == '<' && b(i + 1) == '!' && b(i + 2) == '[' &&
        (b(i + 3) | 32) == 'c' && (b(i + 4) | 32) == 'd' &&
        (b(i + 5) | 32) == 'a' && (b(i + 6) | 32) == 't' &&
        (b(i + 7) | 32) == 'a' && b(i + 8) == '[') return true
      i += 1
    }
    false
  }

  /** A token arena per thread for the `<meta>` prescan of [[sniff]]: it
    * holds at most the tokens of one 1,024-byte window. */
  private val prescanArena = ThreadLocal.withInitial[TokenArena](() => new TokenArena(128))

  /** Returns (charset, bomLength): a UTF-8, UTF-32 or UTF-16 BOM wins;
    * otherwise the first `<meta>` with a usable label in the first 1,024
    * bytes, else UTF-8.
    *
    * The prescan tokenizes that window with [[HtmlTokenizer.tokenize]], so
    * it sees exactly the `<meta>` start tags the document's own tokenization
    * holds there: comments (abrupt `<!-->` ones too), doctype-like `<!…>`
    * runs, CDATA and attribute values never fake one, and a tag needs its
    * `>` inside the window. A `<meta>` gives its `charset` attribute when it
    * has one (an empty one gives nothing), else the `charset=` in its
    * `content` when its `http-equiv` is content-type; attributes are read by
    * [[HtmlTokenizer.attrValue]] (first of a name wins, trimmed,
    * entity-decoded). Unlike the HTML5 prescan, which skips only comments
    * and tags, the bodies of the rawtext/RCDATA elements (script, style,
    * title, textarea) are text here, so a `<meta>` written inside one is
    * not honored.
    *
    * A meta-declared utf-16/utf-32 label means UTF-8 (HTML5 §13.2: the
    * declaration was readable as ASCII bytes, which proves the payload is
    * not utf-16; real utf-16/32 carries a BOM). */
  def sniff(b: Array[Byte]): (Charset, Int) = {
    if (b.length >= 3 && b(0) == 0xef.toByte && b(1) == 0xbb.toByte && b(2) == 0xbf.toByte)
      return (Utf8, 3)
    // UTF-32 BOMs BEFORE UTF-16: FF FE 00 00 is UTF-32LE, and its 2-byte
    // prefix would otherwise misdetect as UTF-16LE
    if (b.length >= 4 && b(0) == 0xff.toByte && b(1) == 0xfe.toByte &&
      b(2) == 0.toByte && b(3) == 0.toByte)
      return (Charset.forName("UTF-32LE"), 4)
    if (b.length >= 4 && b(0) == 0.toByte && b(1) == 0.toByte &&
      b(2) == 0xfe.toByte && b(3) == 0xff.toByte)
      return (Charset.forName("UTF-32BE"), 4)
    if (b.length >= 2 && b(0) == 0xff.toByte && b(1) == 0xfe.toByte)
      return (StandardCharsets.UTF_16LE, 2)
    if (b.length >= 2 && b(0) == 0xfe.toByte && b(1) == 0xff.toByte)
      return (StandardCharsets.UTF_16BE, 2)
    val arena = prescanArena.get()
    HtmlTokenizer.tokenize(b, math.min(b.length, 1024), arena)
    var t = 0
    while (t < arena.size) {
      val k = arena.kinds(t)
      if ((k == Tok.Start || k == Tok.SelfClose) &&
          (arena.tagClass(arena.tagIds(t)) & HtmlNames.Meta) != 0) {
        val label = metaLabel(b, arena.starts(t), arena.ends(t))
        if (label != null) {
          val declared = resolve(label)
          val declaredUp = declared.name().toUpperCase(java.util.Locale.ROOT)
          return (if (declaredUp.startsWith("UTF-16") || declaredUp.startsWith("UTF-32")) Utf8
            else declared, 0)
        }
      }
      t += 1
    }
    (Utf8, 0)
  }

  /** The charset label of the `<meta>` tag in bytes [s, e), or null. */
  private def metaLabel(b: Array[Byte], s: Int, e: Int): String = {
    val charset = HtmlTokenizer.attrValue(b, s, e, "charset")
    if (charset != null) return if (charset.nonEmpty) charset else null
    val equiv = HtmlTokenizer.attrValue(b, s, e, "http-equiv")
    if (equiv == null || equiv.toLowerCase(java.util.Locale.ROOT) != "content-type") return null
    val content = HtmlTokenizer.attrValue(b, s, e, "content")
    if (content == null) return null
    val c = content.toLowerCase(java.util.Locale.ROOT)
    val ci = c.indexOf("charset=")
    if (ci < 0) return null
    var k = ci + 8
    if (k < c.length && (c(k) == '"' || c(k) == '\'')) k += 1
    val vs = k
    while (k < c.length && (c(k).isLetterOrDigit || c(k) == '-' || c(k) == '_')) k += 1
    if (k > vs) c.substring(vs, k) else null
  }
}

/** The one reader of attribute syntax inside a tag's bytes. `scan` reads
  * all attributes of one tag in one call (a call per attribute, which the
  * JIT does not inline, made tokenizing up to twice as slow) and records
  * for each attribute k < `count` its name span (see [[nameIs]]) and value
  * span [valueStart(k), valueEnd(k)), with valueStart(k) = -1 for an
  * attribute without `=`. A name is an ASCII letter, then letters, digits,
  * '-' or '_'; a value is quoted ('…' or "…", a missing closing quote runs
  * to the end) or runs to whitespace or '>', so `class=icon/` keeps its
  * slash. The scan ends at the first '>' outside a quoted value, where `pos`
  * is left, or at the end of the range; a "/>" there sets `selfClose`.
  * Reused across tags: no allocation per attribute.
  */
private[htmltok] final class AttrScanner {
  /** four ints per attribute: name start, name end, value start, value end */
  private var spans = new Array[Int](32)
  var count = 0
  var pos = 0
  var selfClose = false

  def valueStart(k: Int): Int = spans(4 * k + 2)
  def valueEnd(k: Int): Int = spans(4 * k + 3)

  private def isSpace(b: Byte): Boolean = b == ' ' || b == '\t' || b == '\n' || b == '\r'

  /** Read the attributes in bytes [from, until) of `in`. */
  def scan(in: Array[Byte], from: Int, until: Int): Unit = {
    var sp = spans
    var c4 = 0
    var close = false
    var p = from
    while (p < until && in(p) != '>') {
      val c = in(p) & 0xff
      if (c == '/' && p + 1 < until && in(p + 1) == '>') { close = true; p += 1 }
      else if (HtmlTokenizer.isAsciiLetter(c)) {
        val ns = p
        while (p < until && { val cc = in(p) & 0xff
          HtmlTokenizer.isAsciiLetter(cc) || (cc >= '0' && cc <= '9') || cc == '-' || cc == '_' }) p += 1
        val ne = p
        while (p < until && isSpace(in(p))) p += 1
        var vs = -1
        var ve = -1
        if (p < until && in(p) == '=') {
          p += 1
          while (p < until && isSpace(in(p))) p += 1
          if (p < until && (in(p) == '"' || in(p) == '\'')) {
            val quote = in(p); p += 1
            vs = p
            while (p < until && in(p) != quote) p += 1
            ve = p
            if (p < until) p += 1
          } else {
            vs = p
            while (p < until && !isSpace(in(p)) && in(p) != '>') p += 1
            ve = p
          }
        }
        if (c4 == sp.length) { sp = java.util.Arrays.copyOf(sp, c4 * 2); spans = sp }
        sp(c4) = ns; sp(c4 + 1) = ne; sp(c4 + 2) = vs; sp(c4 + 3) = ve
        c4 += 4
      } else p += 1
    }
    count = c4 >> 2
    pos = p
    selfClose = close
  }

  /** Does attribute k's name in `in` equal `name` (ASCII lowercase),
    * ignoring ASCII case? */
  def nameIs(in: Array[Byte], k: Int, name: String): Boolean = {
    val s = spans(4 * k)
    val len = spans(4 * k + 1) - s
    if (len != name.length) return false
    var i = 0
    while (i < len) {
      if (HtmlTokenizer.toLower(in(s + i) & 0xff) != name.charAt(i)) return false
      i += 1
    }
    true
  }
}

/** Single-pass byte-stream HTML tokenizer.
  *
  * Handles: start/end/self-closing tags, attributes (quoted/unquoted), comments,
  * doctype, CDATA, rawtext elements (script/style — content scanned for the literal
  * close tag, `<` inside is text), bare `<` in text, unclosed constructs at EOF.
  * Never loses bytes: emitted token ranges partition the input (tag-soup contract,
  * FIXTURES.md F09).
  *
  * Structure-bearing bytes in HTML are ASCII and all < 0x40, so tokenizing
  * raw bytes is charset-safe for every `Charsets.rawByteSafe` encoding
  * (ASCII supersets whose multi-byte trail bytes are ≥ 0x40: utf-8, the
  * single-byte latin/windows/koi8 family, shift_jis/gbk/big5/euc-*); text
  * decode happens later, per block, with the sniffed charset. Non-safe
  * encodings (utf-16/32, iso-2022) are transcoded to UTF-8 BEFORE reaching
  * this tokenizer (Extractor.extract).
  */
object HtmlTokenizer {

  private val boilerHintWords = Array("nav", "menu", "footer", "header", "sidebar",
    "banner", "breadcrumb", "advert", "ads", "ad-", "promo", "share", "social",
    "comment", "related", "widget", "cookie", "popup", "masthead")
  private val contentHintWords = Array("article", "content", "main", "post", "body-text",
    "story", "entry", "text")

  private[htmltok] def isAsciiLetter(c: Int): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private[htmltok] def toLower(c: Int): Int = if (c >= 'A' && c <= 'Z') c + 32 else c

  /** End of the tag name that starts at `from`: an ASCII letter, then ASCII
    * letters, digits or '-'; `from` itself when no letter is there. The one
    * reader of tag names, for start tags, end tags and [[attrValue]]. */
  private def tagNameEnd(input: Array[Byte], from: Int, n: Int): Int = {
    if (from >= n || !isAsciiLetter(input(from) & 0xff)) return from
    var j = from + 1
    while (j < n && { val c = input(j) & 0xff; isAsciiLetter(c) || (c >= '0' && c <= '9') || c == '-' }) j += 1
    j
  }

  /** Tokenize `input` into `arena` (which is reset first). */
  def tokenize(input: Array[Byte], arena: TokenArena): Unit = tokenize(input, input.length, arena)

  /** Tokenize the first `n` bytes of `input` into `arena`, exactly as if
    * they were the whole input. */
  private[htmltok] def tokenize(input: Array[Byte], n: Int, arena: TokenArena): Unit = {
    arena.reset()
    var i = 0
    var textStart = 0 // start of pending text run

    def flushText(upTo: Int): Unit =
      if (upTo > textStart) arena.add(Tok.Text, textStart, upTo, -1, 0)

    while (i < n) {
      val c = input(i) & 0xff
      if (c == '<' && i + 1 < n) {
        val c1 = input(i + 1) & 0xff
        if (c1 == '!') {
          // comment / doctype / CDATA
          flushText(i)
          if (i + 3 < n && input(i + 2) == '-' && input(i + 3) == '-') {
            // HTML5 abruptly-closed comments are complete: "<!-->" and
            // "<!--->" (without them, one typo'd comment swallows the page)
            var end = -1
            if (i + 4 < n && input(i + 4) == '>') end = i + 5
            else if (i + 5 < n && input(i + 4) == '-' && input(i + 5) == '>') end = i + 6
            else {
              var j = i + 4
              while (end < 0 && j + 2 < n) {
                if (input(j) == '-' && input(j + 1) == '-' && input(j + 2) == '>') end = j + 3
                j += 1
              }
              if (end < 0) end = n // unclosed comment swallows to EOF
            }
            arena.add(Tok.Comment, i, end, -1, 0)
            i = end; textStart = i
          } else if (i + 8 < n && input(i + 2) == '[' &&
            (input(i + 3) | 32) == 'c' && (input(i + 4) | 32) == 'd' &&
            (input(i + 5) | 32) == 'a' && (input(i + 6) | 32) == 't' &&
            (input(i + 7) | 32) == 'a' && input(i + 8) == '[') {
            var j = i + 9
            var end = -1
            while (end < 0 && j + 2 < n) {
              if (input(j) == ']' && input(j + 1) == ']' && input(j + 2) == '>') end = j + 3
              j += 1
            }
            // flag=1 iff the "]]>" closer exists — the DOM strips it only
            // then (an unclosed construct to EOF has no closer bytes to trim)
            val closed = end >= 0
            if (end < 0) end = n
            arena.add(Tok.Cdata, i, end, -1, if (closed) 1 else 0)
            i = end; textStart = i
          } else {
            var j = i + 2
            while (j < n && input(j) != '>') j += 1
            val end = if (j < n) j + 1 else n
            arena.add(Tok.Doctype, i, end, -1, 0)
            i = end; textStart = i
          }
        } else if (c1 == '/') {
          // end tag
          val nameEnd = tagNameEnd(input, i + 2, n)
          if (nameEnd == i + 2) {
            // stray "</" with no name: treat as text
            i += 1
          } else {
            var j = nameEnd
            while (j < n && input(j) != '>') j += 1
            val end = if (j < n) j + 1 else n
            flushText(i)
            arena.add(Tok.End, i, end, arena.intern(lowerName(input, i + 2, nameEnd)), 0)
            i = end; textStart = i
          }
        } else if (isAsciiLetter(c1)) {
          // start tag: flush pending text first so the tag token lands in order
          flushText(i)
          textStart = i
          val parsed = parseStartTag(input, i, n, arena)
          if (parsed < 0) {
            // EOF in tag (HTML5: the partial tag emits nothing): cover
            // '<'..EOF with a Comment token — no DOM node, no text, and the
            // token-partition invariant (every byte covered) holds. The old
            // '<' -> text retry was also quadratic: a '>'-free payload with
            // ~300k '<letter' runs rescanned to EOF per occurrence, pinning
            // a task for minutes on one hostile row
            arena.add(Tok.Comment, i, n, -1, 0)
            i = n; textStart = n
          } else {
            val tokIdx = arena.size - 1 // parseStartTag added the token
            i = parsed; textStart = i
            // rawtext/RCDATA elements: scan to the literal close tag. script/
            // style are rawtext; textarea/title are RCDATA — tags inside are
            // literal text per HTML5 (entity decode still applies later in the
            // per-block decode pass, which is exactly RCDATA semantics).
            // parseStartTag forces these to Tok.Start even when written
            // XHTML-style as <script/>, so the guard is on the name alone.
            val id = arena.tagIds(tokIdx)
            if ((arena.tagClass(id) & HtmlNames.Rawtext) != 0 && arena.kinds(tokIdx) == Tok.Start) {
              val close = findCloseTag(input, i, n, arena.tagName(id))
              if (close > i) { arena.add(Tok.Text, i, close, -1, 0); i = close; textStart = i }
            }
          }
        } else {
          i += 1 // '<' followed by non-tag char: text
        }
      } else {
        // a text run gets a loop of its own, so its per-byte cost does not
        // hang on how the JIT lays out the loop over tags (up to 2x apart)
        i += 1
        while (i < n && input(i) != '<') i += 1
      }
    }
    flushText(n)
  }

  /** Charset-normalized payload for the flat link/meta walks below: the
    * SAME sniff extraction performs, then UTF-8 bytes out — a UTF-8 page
    * passes through (BOM sliced), anything else (windows-1252, Shift_JIS,
    * GBK, UTF-16/32 …) transcodes, so the walks' hardcoded UTF-8 text
    * decodes and ASCII attribute scans are correct for every charset the
    * extraction path accepts. Without this, a Shift_JIS page's anchors and
    * title decoded as U+FFFD runs and a BOM'd UTF-16 page yielded zero
    * links — the two surfaces disagreed on the same input. (Extraction
    * keeps its finer raw-byte routing — it decodes per block; these side
    * surfaces trade one whole-payload transcode for correctness.) */
  def normalizeHtml(input: Array[Byte]): Array[Byte] = {
    if (input == null || input.isEmpty) return Array.emptyByteArray
    val (cs, bom) = Charsets.sniff(input)
    if (cs == Charsets.Utf8) {
      if (bom == 0) input else java.util.Arrays.copyOfRange(input, bom, input.length)
    } else Charsets.toUtf8(input, cs, bom)
  }

  /** Href values of `<a>` start tags, in document order — the link-extraction
    * pass of a crawl link-graph build (the WAT-records shape of Common Crawl,
    * public format). Runs the SAME tokenizer as text extraction (comments,
    * rawtext and script bodies correctly skipped, so no phantom links), then
    * re-scans each href-flagged `<a>` tag's byte span with the same attribute
    * state machine — purely additive, the hot extraction path is untouched.
    * Values are entity-decoded (`&amp;` in query strings) and stripped of
    * leading/trailing ASCII whitespace per the URL spec. Assumes an
    * ASCII-compatible byte encoding (true post-transcode in the pipeline). */
  def anchorHrefs(raw: Array[Byte], arena: TokenArena): Vector[String] = {
    val input = normalizeHtml(raw)
    tokenize(input, arena)
    val out = Vector.newBuilder[String]
    var t = 0
    while (t < arena.size) {
      val v = anchorHref(input, arena, t)
      if (v != null) out += v
      t += 1
    }
    out.result()
  }

  /** The non-empty href of token `t` when it is an `<a href>` start tag,
    * else null — the anchor filter of every link walk. */
  private def anchorHref(input: Array[Byte], arena: TokenArena, t: Int): String = {
    val k = arena.kinds(t)
    if ((k == Tok.Start || k == Tok.SelfClose) &&
        (arena.flags(t) & TokenFlags.HasHref) != 0 &&
        (arena.tagClass(arena.tagIds(t)) & HtmlNames.Anchor) != 0) {
      val v = attrValue(input, arena.starts(t), arena.ends(t), "href")
      if (v != null && v.nonEmpty) v else null
    } else null
  }

  /** (href, anchor text) pairs of `<a>` tags in document order — the
    * anchor-text corpus build (the hyperlink-text training signal; public
    * WAT `Links`+`text` shape). Anchor text is the concatenation of Text
    * tokens between the `<a>` start and its matching `</a>` (nested inline
    * markup contributes its text; a nested/implicitly-closing `<a>` or EOF
    * terminates the span, per the HTML no-nested-anchors rule),
    * entity-decoded, whitespace-normalized to single spaces. */
  def anchorTexts(raw: Array[Byte], arena: TokenArena): Vector[(String, String)] = {
    val input = normalizeHtml(raw)
    tokenize(input, arena)
    val out = Vector.newBuilder[(String, String)]
    var t = 0
    while (t < arena.size) {
      val href = anchorHref(input, arena, t)
      if (href != null) {
        val sb = new java.lang.StringBuilder()
        var j = t + 1
        var open = arena.kinds(t) == Tok.Start
        var skipDepth = 0 // svg/noscript/iframe/object/… subtree depth
        while (open && j < arena.size) {
          val kj = arena.kinds(j)
          val cj = if (arena.tagIds(j) >= 0) arena.tagClass(arena.tagIds(j)) else 0
          if (kj == Tok.Text) {
            // invisible subtrees contribute NO anchor text — the same
            // HtmlNames.Skip class the DOM walk excludes, so
            // '<a><svg><text>42</text></svg>Home</a>' reads "Home", not
            // "42 Home" (the flat walk previously skipped only rawtext)
            if (skipDepth == 0)
              sb.append(new String(input, arena.starts(j),
                arena.ends(j) - arena.starts(j), java.nio.charset.StandardCharsets.UTF_8))
          } else if ((kj == Tok.End || kj == Tok.Start) && (cj & HtmlNames.Anchor) != 0 &&
              skipDepth == 0) {
            open = false
          } else if (kj == Tok.Start && (cj & HtmlNames.Rawtext) != 0) {
            // rawtext bodies (script/style/…) are emitted as Text tokens —
            // skip to the matching End so code never leaks into anchor text
            val rid = arena.tagIds(j)
            j += 1
            while (j < arena.size &&
                !(arena.kinds(j) == Tok.End && arena.tagIds(j) == rid)) j += 1
          } else if (kj == Tok.Start && (cj & HtmlNames.Skip) != 0) {
            skipDepth += 1
          } else if (kj == Tok.End && (cj & HtmlNames.Skip) != 0 && skipDepth > 0) {
            skipDepth -= 1
          }
          j += 1
        }
        val raw = sb.toString
        val decoded = graft.extract.Entities.decode(raw)
        out += href -> decoded.split("\\s+").filter(_.nonEmpty).mkString(" ")
      }
      t += 1
    }
    out.result()
  }

  /** Absolute outlink URLs of one page: every `<a href>` resolved per
    * RFC 3986 against the page's EFFECTIVE base — the first `<base href>`
    * (itself resolved against the document URL, per HTML) or the document
    * URL when absent. One tokenize pass; script/comment fake anchors are
    * skipped by construction. The x21 host shortcut resolves hosts only;
    * this is the full-URL frontier feed. */
  def resolvedLinks(raw: Array[Byte], arena: TokenArena,
                    docUrl: String): Vector[String] = {
    val input = normalizeHtml(raw)
    tokenize(input, arena)
    var base = docUrl
    var baseSeen = false
    val hrefs = Vector.newBuilder[String]
    var t = 0
    while (t < arena.size) {
      val k = arena.kinds(t)
      if (!baseSeen && (k == Tok.Start || k == Tok.SelfClose) &&
          arena.tagName(arena.tagIds(t)) == "base") {
        val h = attrValue(input, arena.starts(t), arena.ends(t), "href")
        if (h != null && h.nonEmpty) {
          base = graft.expressions.UrlKernel.resolve(docUrl, h)
          baseSeen = true
        }
      } else {
        val v = anchorHref(input, arena, t)
        if (v != null) hrefs += v
      }
      t += 1
    }
    // resolve AFTER the walk: HTML resolves hrefs on demand against the
    // document's (final) base, so an anchor that lexically precedes the
    // <base> tag still uses it — and the base splits ONCE for all hrefs
    // instead of per anchor (link-farm pages carry 10k+)
    val b = graft.expressions.UrlKernel.splitUri(base.trim)
    hrefs.result().map(graft.expressions.UrlKernel.resolveWith(b, _))
  }

  /** Page-level head metadata (the public Common-Crawl WAT `Head` record
    * shape: Title, Metas, Link rel=canonical) — what a crawl-curation
    * pipeline reads without extracting the body. null = absent. */
  final case class HeadMeta(title: String, description: String,
                            canonical: String, robots: String,
                            ogTitle: String, ogDescription: String,
                            lang: String)

  /** Extract head metadata from one page: `<title>` (RCDATA body,
    * entity-decoded, ws-normalized), `<meta name=description|robots>` and
    * `<meta property=og:title|og:description>` content values,
    * `<link rel=canonical href>`, and `<html lang>`. FIRST occurrence wins
    * (the browser rule for repeated metadata). The scan covers the whole
    * token stream — HTML5 tolerates metadata outside `<head>` — but rawtext
    * bodies cannot fake tags by construction (script/style bodies tokenize
    * as Text), so `<meta>` written inside a script string is never seen. */
  def headMeta(raw: Array[Byte], arena: TokenArena): HeadMeta = {
    val input = normalizeHtml(raw)
    tokenize(input, arena)
    var title: String = null; var desc: String = null
    var canonical: String = null; var robots: String = null
    var ogTitle: String = null; var ogDesc: String = null
    var lang: String = null
    var t = 0
    while (t < arena.size) {
      val k = arena.kinds(t)
      if (k == Tok.Start || k == Tok.SelfClose) {
        val s = arena.starts(t); val e = arena.ends(t)
        arena.tagName(arena.tagIds(t)) match {
          case "html" if lang == null =>
            lang = attrValue(input, s, e, "lang")
          case "title" if title == null && k == Tok.Start =>
            title =
              if (t + 1 < arena.size && arena.kinds(t + 1) == Tok.Text) {
                val raw = new String(input, arena.starts(t + 1),
                  arena.ends(t + 1) - arena.starts(t + 1),
                  java.nio.charset.StandardCharsets.UTF_8)
                val d = graft.extract.Entities.decode(raw)
                d.split("\\s+").filter(_.nonEmpty).mkString(" ")
              } else ""
          case "meta" =>
            val nm = attrValue(input, s, e, "name")
            val key = if (nm != null) nm
              else attrValue(input, s, e, "property")
            if (key != null) {
              def content: String = attrValue(input, s, e, "content")
              key.toLowerCase(java.util.Locale.ROOT).trim match {
                case "description"    if desc == null    => desc = content
                case "robots"         if robots == null  => robots = content
                case "og:title"       if ogTitle == null => ogTitle = content
                case "og:description" if ogDesc == null  => ogDesc = content
                case _ =>
              }
            }
          case "link" if canonical == null =>
            // rel is a space-separated TOKEN LIST (HTML spec) — match
            // membership, not string equality ("alternate canonical" counts)
            val rel = attrValue(input, s, e, "rel")
            if (rel != null && rel.toLowerCase(java.util.Locale.ROOT)
                .split("[ \t\n\r\f]+").contains("canonical"))
              canonical = attrValue(input, s, e, "href")
          case _ =>
        }
      }
      t += 1
    }
    HeadMeta(title, desc, canonical, robots, ogTitle, ogDesc, lang)
  }

  /** First value of attribute `name` (ASCII lowercase, matched ignoring
    * case) inside tag bytes [i0, end), read by the same [[AttrScanner]] as
    * parseStartTag; the value is ws-trimmed and entity-decoded
    * (attribute-value semantics). null when no such attribute has a value. */
  private[graft] def attrValue(input: Array[Byte], i0: Int, end: Int, name: String): String = {
    val at = new AttrScanner
    at.scan(input, tagNameEnd(input, i0 + 1, end), end)
    var k = 0
    while (k < at.count) {
      if (at.valueStart(k) >= 0 && at.nameIs(input, k, name)) {
        var a = at.valueStart(k)
        var b = at.valueEnd(k)
        while (a < b && (input(a) & 0xff) <= ' ') a += 1
        while (b > a && (input(b - 1) & 0xff) <= ' ') b -= 1
        return graft.extract.Entities.decode(
          new String(input, a, b - a, java.nio.charset.StandardCharsets.UTF_8))
      }
      k += 1
    }
    null
  }

  /** The tag name in bytes [from, to), lowercased (tag names are ASCII). */
  private def lowerName(input: Array[Byte], from: Int, to: Int): String =
    new String(input, from, to - from, java.nio.charset.StandardCharsets.ISO_8859_1)
      .toLowerCase(java.util.Locale.ROOT)

  /** Parse a start tag beginning at `i0` (input(i0)=='<'). Adds the token to the
    * arena and returns the index just past '>'; returns -1 if malformed (no '>'
    * found — caller treats '<' as text). Extracts href presence and class/id hints.
    */
  private def parseStartTag(input: Array[Byte], i0: Int, n: Int, arena: TokenArena): Int = {
    val nameEnd = tagNameEnd(input, i0 + 1, n)
    var flag = 0
    // attribute scan — allocation-free: attr names are matched byte-wise
    // against the few we care about, values are scanned in place (no
    // String per attribute)
    val at = arena.attrs
    at.scan(input, nameEnd, n)
    var a = 0
    while (a < at.count) {
      val vStart = at.valueStart(a)
      val vEnd = at.valueEnd(a)
      if (vStart >= 0) {
        if (at.nameIs(input, a, "href")) flag |= TokenFlags.HasHref
        else if (at.nameIs(input, a, "colspan")) {
          if ((flag & TokenFlags.ColspanSeen) == 0) {
            flag |= TokenFlags.ColspanSeen | TokenFlags.packSpan(
              colspanValue(parseUInt(input, vStart, vEnd)), TokenFlags.ColspanShift)
          }
        } else if (at.nameIs(input, a, "rowspan")) {
          if ((flag & TokenFlags.RowspanSeen) == 0) {
            flag |= TokenFlags.RowspanSeen | TokenFlags.packSpan(
              rowspanValue(parseUInt(input, vStart, vEnd)), TokenFlags.RowspanShift)
          }
        }
        else if (at.nameIs(input, a, "encoding")) {
          if (containsTexWord(input, vStart, vEnd)) flag |= TokenFlags.TexEncoding
        }
        else if (at.nameIs(input, a, "class") || at.nameIs(input, a, "id")) {
          var k = 0
          var done = false
          while (k < boilerHintWords.length && !done) {
            if (containsAscii(input, vStart, vEnd, boilerHintWords(k))) {
              flag |= TokenFlags.HintBoiler; done = true
            }
            k += 1
          }
          if (!done) {
            k = 0
            while (k < contentHintWords.length && !done) {
              if (containsAscii(input, vStart, vEnd, contentHintWords(k))) {
                flag |= TokenFlags.HintContent; done = true
              }
              k += 1
            }
          }
        }
      }
      a += 1
    }
    if (at.pos >= n) return -1 // no '>' — EOF in tag; caller drops '<'..EOF
    val j = at.pos + 1 // past '>'
    val id = arena.intern(lowerName(input, i0 + 1, nameEnd))
    val cls = arena.tagClass(id)
    // browsers IGNORE the self-closing slash on non-void HTML elements
    // (HTML5 tree construction): '<div id=x/>' OPENS a div whose content
    // follows as children — honoring the slash would orphan the content as
    // siblings and lose the tag's class/id hints for classification; for
    // rawtext elements the same rule means '<script src=x/>' opens a script
    // whose body must be skipped. Only genuinely void elements self-close —
    // and the foreign-content roots svg/math, where HTML5 honors the slash:
    // '<a><svg class="icon"/>Home</a>' must not open a never-closed skip subtree.
    val kind =
      if ((cls & HtmlNames.Void) != 0 || (at.selfClose && (cls & HtmlNames.Foreign) != 0)) Tok.SelfClose
      else Tok.Start
    arena.add(kind, i0, j, id, flag)
    j
  }

  /** Leading unsigned integer of a byte range, HTML-attribute style: skip
    * leading whitespace, read digits, ignore trailing junk ("2px" → 2);
    * absent digits → -1 (caller defaults). Capped at 1023. */
  private def parseUInt(input: Array[Byte], from: Int, to: Int): Int = {
    var i = from
    while (i < to && (input(i) == ' ' || input(i) == '\t')) i += 1
    var v = 0
    var any = false
    while (i < to && input(i) >= '0' && input(i) <= '9' && v < 1024) {
      v = v * 10 + (input(i) - '0'); any = true; i += 1
    }
    if (!any) -1 else math.min(v, 1023)
  }

  /** HTML5 span-attribute semantics: colspan 0/junk → 1; rowspan junk → 1,
    * but rowspan="0" means "span the remaining rows of the row group" —
    * encoded as the 1023 cap (coverage dies with the table run anyway). */
  private def colspanValue(raw: Int): Int = if (raw <= 0) 1 else raw
  private def rowspanValue(raw: Int): Int =
    if (raw < 0) 1 else if (raw == 0) 1023 else raw

  /** "tex" occurs in the encoding value NOT as the prefix of "text":
    * accepts the MathML annotation conventions ("application/x-tex",
    * "application/x-latex", "TeX", "LaTeX", "text/x-tex") while rejecting
    * plain MIME types ("text/plain", "text/html") whose leading "text"
    * would otherwise satisfy a bare substring match. */
  private def containsTexWord(input: Array[Byte], from: Int, to: Int): Boolean = {
    var i = from
    val limit = to - 3
    while (i <= limit) {
      if (toLower(input(i) & 0xff) == 't' && toLower(input(i + 1) & 0xff) == 'e' &&
          toLower(input(i + 2) & 0xff) == 'x' &&
          (i + 3 >= to || toLower(input(i + 3) & 0xff) != 't')) return true
      i += 1
    }
    false
  }

  /** Case-insensitive ASCII substring search inside a byte range. */
  private def containsAscii(input: Array[Byte], from: Int, to: Int, word: String): Boolean = {
    val m = word.length
    var i = from
    val limit = to - m
    while (i <= limit) {
      var k = 0
      var ok = true
      while (ok && k < m) {
        if (toLower(input(i + k) & 0xff) != word.charAt(k)) ok = false
        k += 1
      }
      if (ok) return true
      i += 1
    }
    false
  }

  /** Find offset of `</name` (case-insensitive) at or after `from`; n if
    * absent. Per HTML5, the character after the name must end the tag name
    * (whitespace, '/', '>' or EOF) — `</scripty>` must NOT close `<script>`.
    */
  private def findCloseTag(input: Array[Byte], from: Int, n: Int, name: String): Int = {
    var i = from
    val m = name.length
    while (i + m + 1 < n) {
      if (input(i) == '<' && input(i + 1) == '/') {
        var k = 0
        var ok = true
        while (ok && k < m) {
          if (toLower(input(i + 2 + k) & 0xff) != name(k)) ok = false
          k += 1
        }
        if (ok && i + 2 + m < n) {
          val after = input(i + 2 + m) & 0xff
          ok = after == '>' || after == '/' || after == ' ' || after == '\t' ||
            after == '\n' || after == '\r' || after == '\f'
        }
        if (ok) return i
      }
      i += 1
    }
    n
  }
}

/** The one table of HTML tag semantics (HTML5 spec lists; public knowledge):
  * each class bit below is declared with its lowercase member names.
  * [[TokenArena.intern]] reads a name's bits once per document, and every tag
  * question downstream (tokenizer, DOM, segmenter, classifier, chunk planner,
  * link walks) is a bit test on them. */
object HtmlNames {
  private val table = new java.util.HashMap[String, Integer](128)

  private def bit(i: Int, names: String*): Int = {
    names.foreach(n => table.put(n, classOf(n) | 1 << i))
    1 << i
  }

  /** The class bits of a lowercase tag name (0 for a name the table lacks). */
  def classOf(name: String): Int = {
    val bits = table.get(name)
    if (bits eq null) 0 else bits.intValue
  }

  // no content and no end tag
  val Void: Int = bit(0, "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr")
  // anchors the text under it and ends a running block; closes an open Para and Head
  val Block: Int = bit(1, "address", "article", "aside", "blockquote", "body", "caption",
    "dd", "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer", "form", "h1",
    "h2", "h3", "h4", "h5", "h6", "header", "hr", "html", "li", "main", "nav", "ol", "p",
    "pre", "section", "table", "tbody", "td", "tfoot", "th", "thead", "tr", "ul")
  // an invisible subtree: no text
  val Skip: Int = bit(2, "script", "style", "noscript", "svg", "head", "iframe", "object", "template")
  val Boiler: Int = bit(3, "nav", "header", "footer", "aside") // subtree is no content
  val Heading: Int = bit(4, "h1", "h2", "h3", "h4", "h5", "h6") // title blocks
  // rawtext (script/style) + RCDATA (textarea/title): content is literal text
  // to the matching close tag, and the self-closing slash is ignored
  val Rawtext: Int = bit(5, "script", "style", "textarea", "title")
  // a start closes an open same-name element up to the nearest non-Para Block
  val AutoClose: Int = bit(6, "p", "li", "td", "th", "tr", "option", "dd", "dt")
  val Para: Int = bit(7, "p")
  val Head: Int = bit(8, "head")
  val Frame: Int = bit(9, "html", "body") // the ancestors a chunk prefix reopens
  val Br: Int = bit(10, "br")
  val Anchor: Int = bit(11, "a")
  val Pre: Int = bit(12, "pre", "textarea") // newlines survive
  val Math: Int = bit(13, "math") // a formula root
  val Foreign: Int = bit(14, "svg", "math") // the self-closing slash is honored
  val Annotation: Int = bit(15, "annotation") // a formula's source when TeX-encoded
  val AnyAnnotation: Int = bit(16, "annotation", "annotation-xml") // alternate renderings
  val Table: Int = bit(17, "table")
  val Row: Int = bit(18, "tr")
  val Cell: Int = bit(19, "td", "th")
  val Section: Int = bit(20, "thead", "tbody", "tfoot")
  val List: Int = bit(21, "ul", "ol", "dl") // one assembly group
  val Item: Int = bit(22, "li", "dd", "dt")
  val DefItem: Int = bit(23, "dt", "dd")
  val DefList: Int = bit(24, "dl")
  val Meta: Int = bit(25, "meta") // the charset prescan reads it
}
