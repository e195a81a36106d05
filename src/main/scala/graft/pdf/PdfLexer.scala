package graft.pdf

import java.nio.charset.StandardCharsets

/** The PDF token grammar (ISO 32000-1 §7.2) over raw bytes: one lexer for
  * object headers, dictionaries, object streams, /ToUnicode CMaps,
  * /Differences arrays and content streams. Whitespace is the ISO set (NUL,
  * TAB, LF, FF, CR, SP); comments are skipped. A number starts with a sign,
  * '.' or digit and runs over digits and '.' (so "1.2.3" is one token whose
  * [[num]] is NaN). Tokens are byte spans; names, strings and numbers decode
  * on request, literal strings through one reused builder (the htmltok arena
  * discipline: no per-token objects).
  */
private[pdf] final class PdfLexer(val buf: Array[Byte], from: Int, val until: Int) {
  import PdfLexer._

  def this(buf: Array[Byte]) = this(buf, 0, buf.length)

  /** Between objects the scan reads '(', a single '<' and '%' as one-byte
    * [[Junk]]: a stray one in damaged bytes must not open a string or a
    * comment that swallows the object headers after it. */
  var betweenObjects = false
  var pos: Int = from
  /** The current token: kind and byte span (strings include their delimiters). */
  var kind: Int = Eof
  var start: Int = from
  var end: Int = from
  private val sb = new java.lang.StringBuilder()

  @inline private def at(i: Int): Int = buf(i) & 0xff
  @inline private def digit(i: Int): Boolean = at(i) >= '0' && at(i) <= '9'

  def skipWs(): Unit =
    while (pos < until && (isWs(at(pos)) || (at(pos) == '%' && !betweenObjects))) {
      if (at(pos) == '%') while (pos < until && at(pos) != '\n' && at(pos) != '\r') pos += 1
      else pos += 1
    }

  def next(): Int = {
    skipWs()
    start = pos
    if (pos >= until) { kind = Eof; end = pos; return kind }
    val c = at(pos)
    pos += 1
    val double = pos < until && at(pos) == c
    kind = c match {
      case '<' | '>' if double => pos += 1; if (c == '<') DictOpen else DictClose
      case '(' | '<' | '%' if betweenObjects => Junk
      case '(' => // past the balancing ')': nesting counts, '\' escapes a byte
        var depth = 1
        while (pos < until && depth > 0) {
          if (at(pos) == '\\') pos += 1
          else if (at(pos) == '(') depth += 1
          else if (at(pos) == ')') depth -= 1
          pos += 1
        }
        pos = math.min(pos, until); Str
      case '<' => // a hex string ends at the first '>'
        while (pos < until && at(pos) != '>') pos += 1
        pos = math.min(pos + 1, until); Hex
      case '[' => ArrOpen
      case ']' => ArrClose
      case ')' | '>' | '{' | '}' => Junk
      case '/' => regularRun(); Name
      case _ if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
        while (pos < until && (at(pos) == '.' || digit(pos))) pos += 1
        Num
      case _ => regularRun(); Kw
    }
    end = pos
    kind
  }

  private def regularRun(): Unit = while (pos < until && !isDelimOrWs(at(pos))) pos += 1

  /** The current token's bytes as Latin-1 text (a name without its '/'). */
  def text: String = {
    val s = if (kind == Name) start + 1 else start
    new String(buf, s, end - s, StandardCharsets.ISO_8859_1)
  }

  /** The current Num token is an unsigned integer (digits only). */
  def isNat: Boolean = (start until end).forall(digit)

  /** The current unsigned integer when it fits an Int, else -1 (the
    * toIntOption rule: an overlong number is skipped, never thrown). */
  def natInt: Int = { val v = long; if (isNat && v >= 0 && v <= Int.MaxValue) v.toInt else -1 }

  /** At an unsigned integer N: true, past them, when the next two tokens are
    * an unsigned integer and the keyword `kw` (`N G R`, `N G obj`); else
    * false, rewound to just after N. */
  def followedBy(kw: String): Boolean = {
    val p = pos; val s = start; val e = end
    if (next() == Num && isNat && next() == Kw && end - start == kw.length && text == kw) true
    else { pos = p; start = s; end = e; kind = Num; false }
  }

  /** The current Num token as an integer (optional sign, at most 18 digits),
    * else [[PdfLexer.NotInt]]. */
  def long: Long = {
    var i = if (at(start) == '+' || at(start) == '-') start + 1 else start
    if (i == end || end - i > 18) return NotInt
    var v = 0L
    while (i < end) { if (!digit(i)) return NotInt; v = v * 10 + (at(i) - '0'); i += 1 }
    if (at(start) == '-') -v else v
  }

  /** The current Num token's value, NaN when it is not a number. Up to 15
    * digits with at most 22 after the point take one correctly rounded
    * division, which equals `toDouble`; longer ones go through it. */
  def num: Double = {
    var i = if (at(start) == '+' || at(start) == '-') start + 1 else start
    var m = 0L; var digits = 0; var frac = -1
    while (i < end && digits <= 15 && (digit(i) || frac < 0)) {
      if (at(i) == '.') frac = 0
      else { m = m * 10 + (at(i) - '0'); digits += 1; if (frac >= 0) frac += 1 }
      i += 1
    }
    if (i == end && digits > 0 && digits <= 15 && frac <= 22)
      (if (at(start) == '-') -1 else 1) * (m.toDouble / Pow10(math.max(frac, 0)))
    else text.toDoubleOption.getOrElse(Double.NaN)
  }

  /** The current literal string, escapes decoded (§7.3.4.2), as Latin-1 chars. */
  def literal: String = {
    sb.setLength(0)
    var depth = 1
    var i = start + 1
    while (i < end && depth > 0) {
      val c = at(i)
      if (c == '\\' && i + 1 < end) {
        val e = at(i + 1)
        i += 2
        e match {
          case 'n' | 'r' | 't' | 'b' | 'f' => sb.append("\n\r\t\b\f".charAt("nrtbf".indexOf(e)))
          case '\r' => if (i < end && at(i) == '\n') i += 1 // line continuation
          case '\n' =>
          case d if d >= '0' && d <= '7' => // octal, up to 3 digits
            var v = d - '0'; var k = 1
            while (k < 3 && i < end && at(i) >= '0' && at(i) <= '7') {
              v = v * 8 + (at(i) - '0'); i += 1; k += 1
            }
            sb.append((v & 0xff).toChar)
          case other => sb.append(other.toChar)
        }
      } else {
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        if (depth > 0) sb.append(c.toChar)
        i += 1
      }
    }
    sb.toString
  }

  /** The current hex string as written, between '<' and '>'. */
  def hexRaw: String = new String(buf, start + 1,
    (if (end > start + 1 && at(end - 1) == '>') end - 1 else end) - start - 1, StandardCharsets.ISO_8859_1)
}

private[pdf] object PdfLexer {
  final val Eof = 0; final val Num = 1; final val Name = 2; final val Str = 3
  final val Hex = 4; final val ArrOpen = 5; final val ArrClose = 6
  final val DictOpen = 7; final val DictClose = 8; final val Kw = 9
  /** A stray ')', '>', '{' or '}' (and see [[PdfLexer.betweenObjects]]). */
  final val Junk = 10
  final val NotInt = Long.MinValue

  private val Pow10 = Array.tabulate(23)(k => math.pow(10, k))

  @inline def isWs(c: Int): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0

  private val DelimOrWs = Array.tabulate(256)(c => isWs(c) || "()<>[]{}/%".indexOf(c) >= 0)
  /** `c` (a byte value, 0-255) ends a name or keyword. */
  @inline def isDelimOrWs(c: Int): Boolean = DelimOrWs(c)

  /** `b` holds `pat` at `i`. */
  def matchAt(b: Array[Byte], i: Int, pat: String): Boolean = indexOf(b, pat, i, i + pat.length) == i

  /** First index of `pat` in `b[from, until)`, or -1. */
  def indexOf(b: Array[Byte], pat: String, from: Int, until: Int): Int = {
    var i = math.max(from, 0)
    while (i <= math.min(until, b.length) - pat.length) {
      var k = 0
      while (k < pat.length && b(i + k) == pat.charAt(k)) k += 1
      if (k == pat.length) return i
      i += 1
    }
    -1
  }

  /** Hex digits (whitespace skipped, an odd final digit padded with 0) as
    * bytes, or null when a non-hex byte occurs. */
  def hexBytes(raw: String): Array[Byte] = {
    val out = new Array[Byte]((raw.length + 1) / 2)
    var k = 0
    for (c <- raw if !isWs(c)) {
      val d = Character.digit(c, 16)
      if (d < 0) return null
      out(k / 2) = (out(k / 2) | (if (k % 2 == 0) d << 4 else d)).toByte
      k += 1
    }
    java.util.Arrays.copyOf(out, (k + 1) / 2)
  }
}

/** A parsed PDF value (§7.3). An integer past 18 digits reads as a real; an
  * ill-formed number or a keyword other than `R` reads as [[PKw]]. */
private[pdf] sealed trait PVal
private[pdf] sealed trait PNum extends PVal { def d: Double }
private[pdf] final case class PInt(v: Long) extends PNum { def d: Double = v.toDouble }
private[pdf] final case class PReal(d: Double) extends PNum
private[pdf] final case class PName(v: String) extends PVal
private[pdf] final case class PStr(v: String) extends PVal
private[pdf] final case class PHex(raw: String) extends PVal
private[pdf] final case class PRef(num: Int) extends PVal
private[pdf] final case class PKw(v: String) extends PVal
private[pdf] final case class PArr(items: Vector[PVal]) extends PVal {
  def refs: Vector[Int] = items.collect { case PRef(n) => n }
}
/** A value dropped by the depth cap. */
private[pdf] case object PNull extends PVal

/** A dictionary in source order; a repeated key reads its first entry. */
private[pdf] final class PDict(val entries: Vector[(String, PVal)]) extends PVal {
  def get(key: String): PVal = entries.find(_._1 == key).map(_._2).orNull
  /** A direct non-negative integer that fits an Int (never a reference). */
  def nat(key: String): Option[Int] =
    Option(get(key)).collect { case PInt(v) if v >= 0 && v <= Int.MaxValue => v.toInt }
  def name(key: String): Option[String] = Option(get(key)).collect { case PName(n) => n }
  def ref(key: String): Option[Int] = Option(get(key)).collect { case PRef(n) => n }
  /** `/Key [a 0 R b 0 R …]` or the single-reference form. */
  def refs(key: String): Vector[Int] = get(key) match {
    case a: PArr => a.refs
    case PRef(n) => Vector(n)
    case _ => Vector.empty
  }
}

private[pdf] object PDict {
  val empty = new PDict(Vector.empty)
  /** `v` when it is a dictionary, else the empty one. */
  def of(v: PVal): PDict = v match { case d: PDict => d; case _ => empty }
}

/** Builds [[PVal]]s from a [[PdfLexer]], each dictionary parsed once.
  * Nesting past [[MaxDepth]] is skipped iteratively and reads as [[PNull]]:
  * a StackOverflowError would escape every NonFatal catch. A `>>` closes an
  * open array as well as its dictionary, and a non-name where a key belongs
  * is read and dropped — the `<<`/`>>` balance the object scan has always
  * used. A value left open at the end of input reads as null. */
private[pdf] object PdfValue {
  import PdfLexer._

  final val MaxDepth = 64

  /** The value whose first token the lexer has just read, or null. */
  def read(lex: PdfLexer, depth: Int = 0): PVal = lex.kind match {
    case Num =>
      val n = lex.long
      if (n == NotInt) { val d = lex.num; if (d.isNaN) PKw(lex.text) else PReal(d) }
      else if (lex.isNat && n <= Int.MaxValue && lex.followedBy("R")) PRef(n.toInt) // §7.3.10
      else PInt(n)
    case Name => PName(lex.text)
    case Str => PStr(lex.literal)
    case Hex => PHex(lex.hexRaw)
    case ArrOpen | DictOpen if depth >= MaxDepth =>
      var open = 1 // skip it, counting every open and close alike
      while (open > 0) lex.next() match {
        case Eof => return null
        case ArrOpen | DictOpen => open += 1
        case ArrClose | DictClose => open -= 1
        case _ =>
      }
      PNull
    case ArrOpen =>
      val items = Vector.newBuilder[PVal]
      while (lex.next() != ArrClose) {
        if (lex.kind == DictClose) { lex.pos = lex.start; return PArr(items.result()) }
        val v = read(lex, depth + 1)
        if (v == null) return null
        items += v
      }
      PArr(items.result())
    case DictOpen =>
      val entries = Vector.newBuilder[(String, PVal)]
      while (lex.next() != DictClose) {
        if (lex.kind != Name) { if (read(lex, depth + 1) == null) return null } // not a key: drop it
        else {
          val key = lex.text
          if (lex.next() == DictClose) return new PDict(entries.result())
          val v = read(lex, depth + 1)
          if (v == null) return null
          entries += key -> v
        }
      }
      new PDict(entries.result())
    case Eof => null
    case _ => PKw(lex.text)
  }

  /** The first value in `b[from, until)`, or null. */
  def parse(b: Array[Byte], from: Int, until: Int): PVal = {
    val lex = new PdfLexer(b, from, until)
    lex.next()
    read(lex)
  }

  /** Every top-level value of `b`, in order (an unterminated one ends it). */
  def parseAll(b: Array[Byte]): Vector[PVal] = {
    val lex = new PdfLexer(b)
    Iterator.continually { lex.next(); read(lex) }.takeWhile(_ != null).toVector
  }
}
