package graft.extract

import java.nio.charset.Charset

import graft.dom.{BlockArena, BlockSegmenter, DomArena, SegKind}
import graft.htmltok.{Charsets, HtmlNames, HtmlTokenizer, TokenArena}
import graft.model.{ExtractedDoc, Span}

/** Extraction parameters — the graft of the reference's CLI surface
  * (det thresholds / drop_score / limit_side_len; tools/infer/utility.py:33-120,
  * SURVEY.md §3.3). All gates are integer-ratio comparisons for cross-platform
  * byte-identical determinism (SURVEY.md §7.4 hard part #1).
  */
final case class ExtractConfig(
    /** hard cap on processed payload bytes, ≡ DetResizeForTest limit_side_len
      * (ppocr/data/imaug/operators.py:198-325): clamp work per doc, record the
      * truncation in lineage ("no silent caps"). */
    maxHtmlBytes: Int = 8 * 1024 * 1024,
    /** ≡ max_candidates=1000 (ppocr/postprocess/db_postprocess.py:38).
      * NOT a hard row bound: the cap is group-atomic and the FIRST group is
      * always kept whole, so the effective span bound is
      * max(maxBlocksPerDoc, largest single group) — a single oversized table
      * can emit more spans than the cap (bounded by maxHtmlBytes). Callers
      * needing a strict row bound must clamp downstream. */
    maxBlocksPerDoc: Int = 10000,
    /** minimum non-whitespace chars for a free-standing content block
      * (≡ the ≤3px box size filter, tools/infer/predict_det.py:207-221) */
    minContentChars: Int = 10,
    /** link-density gate numerator/denominator: drop when
      * linkChars * linkDenR >= totalChars * linkDenN  (default ratio 2/3) */
    linkDenN: Int = 2,
    linkDenR: Int = 3,
    /** short-block-with-links gate: chars < shortChars && linkChars*2 >= chars */
    shortChars: Int = 25,
    /** ≡ drop_score=0.5 score gate (tools/infer/predict_system.py:149-154),
      * rescaled for our score definition */
    dropScore: Double = 0.05,
    /** hard cap on PDF pages processed per document (≡ img[:page_num],
      * tools/infer/predict_system.py:221-224): a million-page mini-PDF under
      * the byte cap cannot explode unbounded rows; the cap is recorded via the
      * `truncated` flag (no silent caps). */
    maxPdfPages: Int = 10000
) {
  /** `payload` cut to [[maxHtmlBytes]] (the payload itself when it fits). */
  def capped(payload: Array[Byte]): Array[Byte] =
    if (payload.length > maxHtmlBytes) java.util.Arrays.copyOf(payload, maxHtmlBytes) else payload
}

object TextNormalizer {
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u000B' || c == '\u00A0'

  /** Collapse whitespace runs (incl. NBSP) to single spaces, trim ends.
    * ≡ NormalizeImage (ppocr/data/imaug/operators.py:62-86) recast for text. */
  def normalize(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var pendingSpace = false
    while (i < n) {
      val c = s.charAt(i)
      if (isWs(c)) pendingSpace = sb.length() > 0
      else { if (pendingSpace) { sb.append(' '); pendingSpace = false }; sb.append(c) }
      i += 1
    }
    sb.toString
  }
}

/** Per-partition reusable extraction state (arena discipline: zero steady-state
  * allocation growth; constructed once per mapPartitions call, SURVEY.md §4.6).
  */
final class ExtractorState {
  val toks = new TokenArena()
  val dom = new DomArena()
  val blocks = new BlockArena()
  val seg = new SegWriter() // reused per block (arena discipline)
  // per-stage nanos, accumulated across docs (≡ time_dict, predict_system.py:77)
  var tokenizeNanos = 0L
  var domNanos = 0L
  var classifyNanos = 0L
  var assembleNanos = 0L
  var pdfNanos = 0L // the whole PDF branch (parse, order, assemble)

  // classify non-ASCII path: a reused CharsetDecoder + char buffer in place
  // of the String-per-segment allocation (the last steady-state allocation
  // in the hot loop). Result is identical to `new String(bytes, cs)` — the
  // JDK's own slow path IS a fresh decoder with REPLACE on malformed and
  // unmappable input, and its fast paths are defined to match it.
  private var decCs: java.nio.charset.Charset = null
  private var dec: java.nio.charset.CharsetDecoder = null
  val decBuf = new CharBuf()

  def decodeSegment(input: Array[Byte], from: Int, len: Int,
                    cs: java.nio.charset.Charset): CharBuf = {
    if (cs ne decCs) { // Charset instances are canonical — identity suffices
      decCs = cs
      dec = cs.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    }
    decBuf.ensure((len * dec.maxCharsPerByte()).toInt + 2)
    val bb = java.nio.ByteBuffer.wrap(input, from, len)
    dec.reset()
    var out = java.nio.CharBuffer.wrap(decBuf.buf)
    var cr = dec.decode(bb, out, true)
    while (cr.isOverflow) { // defensive: maxCharsPerByte sizing bounds this
      decBuf.ensure(decBuf.buf.length * 2)
      val bigger = java.nio.CharBuffer.wrap(decBuf.buf)
      out.flip(); bigger.put(out); out = bigger
      cr = dec.decode(bb, out, true)
    }
    cr = dec.flush(out)
    if (cr.isOverflow) { // a flush emitting past the bound cannot occur for
      decBuf.ensure(decBuf.buf.length * 2) // JDK charsets; keep the guard
      val bigger = java.nio.CharBuffer.wrap(decBuf.buf)
      out.flip(); bigger.put(out); out = bigger
      dec.flush(out)
    }
    decBuf.len = out.position()
    decBuf
  }
}

/** Reusable decoded-segment window (grow-only char array). Implements
  * CharSequence so [[Entities.decodeAt]] reads it like the String it
  * replaces; subSequence materializes a String (entity-name map lookups need
  * one — entities are rare relative to characters, so that allocation is off
  * the steady-state path). */
final class CharBuf extends CharSequence {
  var buf = new Array[Char](256)
  var len = 0
  def ensure(n: Int): Unit =
    if (buf.length < n) buf = new Array[Char](Integer.highestOneBit(n - 1) << 1)
  override def length: Int = len
  override def charAt(i: Int): Char = buf(i)
  override def subSequence(a: Int, b: Int): CharSequence = new String(buf, a, b - a)
  override def toString: String = new String(buf, 0, len)
}

/** Per-block text accumulator for the classify pass: fused decode + entity
  * expansion + whitespace collapse + link/char counting. A CLASS with plain
  * fields rather than a local def capturing mutable locals — the captured
  * form boxes every counter into a runtime Ref and routes every character
  * through the indirection (measured ~35% of classify CPU on an
  * ASCII-heavy corpus). Reused across blocks; zero steady-state allocation.
  */
final class SegWriter {
  val sb = new java.lang.StringBuilder(64)
  var linkChars = 0
  var nonWs = 0
  var pendingSpace = false
  var pendingNewline = false // pre-only: preserved line break (wins over space)

  // formula branch: content inside <math> accumulates in its own normalized
  // buffer (edges trimmed by construction), then closeMath emits `$source$`
  // into the main stream in one shot. Source chars + the two delimiters count
  // toward nonWs (the content gates see the formula) but never toward
  // linkChars (a formula is not nav text). `nonWs == mathNonWs` ⇔ the block
  // is pure math — the classifier's formula-label predicate.
  private val mathSb = new java.lang.StringBuilder(32)
  private var mathPendingSpace = false
  private var inMathMode = false
  var mathGroups = 0
  var mathNonWs = 0 // total nonWs contributed by math groups (incl. delimiters)
  var firstMathSrc: String = null // source of group 0 (pure-math span text)

  def reset(): Unit = {
    sb.setLength(0)
    linkChars = 0; nonWs = 0
    pendingSpace = false; pendingNewline = false
    mathSb.setLength(0); mathPendingSpace = false; inMathMode = false
    mathGroups = 0; mathNonWs = 0; firstMathSrc = null
  }

  def openMath(): Unit = {
    inMathMode = true
    mathSb.setLength(0)
    mathPendingSpace = false
  }

  private def putMath(c: Char): Unit =
    if (isWsChar(c)) { if (mathSb.length() > 0) mathPendingSpace = true }
    else {
      if (mathPendingSpace) { mathSb.append(' '); mathPendingSpace = false }
      mathSb.append(c)
    }

  def closeMath(): Unit = {
    inMathMode = false
    if (mathSb.length() == 0) return // empty formula: emit nothing, not "$$"
    val src = mathSb.toString
    if (mathGroups == 0) firstMathSrc = src
    mathGroups += 1
    if (pendingNewline) { sb.append('\n'); pendingNewline = false; pendingSpace = false }
    else if (pendingSpace) { sb.append(' '); pendingSpace = false }
    sb.append('$').append(src).append('$')
    var srcNonWs = 2 // the delimiters
    var i = 0
    while (i < src.length) { if (src.charAt(i) != ' ') srcNonWs += 1; i += 1 }
    nonWs += srcNonWs
    mathNonWs += srcNonWs
  }

  @inline private def isWsChar(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u000B' || c == '\u00A0'

  def break(inPre: Boolean): Unit =
    if (inMathMode) { if (mathSb.length() > 0) mathPendingSpace = true }
    else if (sb.length() > 0) {
      if (inPre) pendingNewline = true else pendingSpace = true
    }

  /** Bulk append of a run of non-whitespace ASCII bytes (the fast-path
    * common case): pendings resolve once, counters bump once, and the chars
    * land via a single array append instead of per-char calls. */
  def putRun(input: Array[Byte], from: Int, until: Int, inLink: Boolean): Unit = {
    val len = until - from
    if (len <= 0) return
    if (inMathMode) { // rare path: formula source routes to the math buffer
      var i = from
      while (i < until) { putMath(input(i).toChar); i += 1 }
      return
    }
    if (pendingNewline) { sb.append('\n'); pendingNewline = false; pendingSpace = false }
    else if (pendingSpace) { sb.append(' '); pendingSpace = false }
    if (buf.length < len) buf = new Array[Char](math.max(len, buf.length * 2))
    var i = 0
    while (i < len) { buf(i) = input(from + i).toChar; i += 1 }
    sb.append(buf, 0, len)
    nonWs += len
    if (inLink) linkChars += len
  }
  private var buf = new Array[Char](256)

  def put(c: Char, inLink: Boolean, inPre: Boolean): Unit =
    if (inMathMode) putMath(c) // rare path: formula source
    else if (isWsChar(c)) {
      if (sb.length() > 0) {
        // inside <pre>/<textarea> newlines survive normalization (runs of
        // them collapse to one line break); other whitespace -> spaces
        if (inPre && (c == '\n' || c == '\r')) pendingNewline = true
        else pendingSpace = true
      }
    } else {
      if (pendingNewline) { sb.append('\n'); pendingNewline = false; pendingSpace = false }
      else if (pendingSpace) { sb.append(' '); pendingSpace = false }
      sb.append(c)
      nonWs += 1
      if (inLink) linkChars += 1
    }
}

object Labels {
  val Title = "title"
  val Content = "content"
  val Cell = "cell"
  val Item = "item"
  /** A block whose content is exactly one MathML formula — the graft of the
    * reference's `equation` layout label + LaTeX recognizer
    * (ppstructure/predict_system.py:171-174): span text carries the raw
    * source (the TeX `<annotation encoding=*tex*>` body when present, else
    * the linearized presentation text), assembly renders `$$source$$`
    * (recovery_to_markdown.py:170-171). */
  val Formula = "formula"
}

/** The per-document extraction kernel: tokenize → DOM → segment → classify →
  * order+assemble. Pure function of (url, bytes, config): byte-identical output
  * independent of partitioning — the north-rule contract.
  */
object Extractor {

  def extract(url: String, html: Array[Byte], cfg: ExtractConfig = ExtractConfig(),
              state: ExtractorState = new ExtractorState()): ExtractedDoc = {
    if (html == null || html.isEmpty)
      return ExtractedDoc(url, "", 0, Nil, "utf-8", truncated = false)
    if (graft.pdf.PdfBranch.isPdf(html)) {
      val t0 = System.nanoTime()
      val doc = graft.pdf.PdfBranch.extract(url, html, cfg)
      state.pdfNanos += System.nanoTime() - t0
      return doc
    }

    val truncated = html.length > cfg.maxHtmlBytes
    val input = cfg.capped(html)
    val (charset, bom) = Charsets.sniff(input)
    if (Charsets.rawBytesOk(charset, input))
      extractHtmlGrouped(url, input, charset, bom, truncated, cfg, state)._1
    else {
      // transcode-first path (utf-16/32, iso-2022, …): these encodings can put
      // structural-looking bytes inside character sequences, so the raw-byte
      // tokenizer cannot run on them — decode the whole payload, re-encode
      // UTF-8, and extract that. Span byte offsets then refer to the
      // transcoded buffer (decode-normalized coordinates), the documented
      // contract for this branch.
      val utf8all = Charsets.toUtf8(input, charset, bom)
      // re-apply the byte cap: CJK-heavy UTF-16 re-encodes up to 1.5\u00D7 larger
      // in UTF-8, and maxHtmlBytes is the per-doc work/memory bound \u2014 trim to
      // a char boundary so the tail never splits a sequence
      val (utf8, reTruncated) =
        if (utf8all.length <= cfg.maxHtmlBytes) (utf8all, false)
        else {
          var end = cfg.maxHtmlBytes
          while (end > 0 && (utf8all(end) & 0xc0) == 0x80) end -= 1
          (java.util.Arrays.copyOf(utf8all, end), true)
        }
      val doc = extractHtmlGrouped(url, utf8, Charsets.Utf8, 0, truncated || reTruncated,
        cfg, state)._1
      doc.copy(charset = charset.name().toLowerCase(java.util.Locale.ROOT))
    }
  }

  /** HTML kernel with an explicit charset/BOM, plus the kept-group partition
    * (spans per assembly group, in order). The chunked mega-document path
    * sniffs once on the whole payload, extracts fragments with the inherited
    * charset, and ships these sizes to its merge so the global block cap
    * truncates at the SAME group boundary the single-pass kernel uses
    * (ChunkedExtract's lockstep contract). */
  private[graft] def extractHtmlGrouped(
      url: String, input: Array[Byte], charset: Charset, bom: Int,
      truncated: Boolean, cfg: ExtractConfig,
      state: ExtractorState): (ExtractedDoc, Vector[Int]) = {
    var t0 = System.nanoTime()
    HtmlTokenizer.tokenize(input, state.toks)
    var t1 = System.nanoTime(); state.tokenizeNanos += t1 - t0

    state.dom.build(state.toks)
    BlockSegmenter.segment(state.dom, state.blocks)
    t0 = System.nanoTime(); state.domNanos += t0 - t1

    val keptAll = classify(input, charset, bom, cfg, state)
    t1 = System.nanoTime(); state.classifyNanos += t1 - t0

    // maxBlocksPerDoc: group-atomic cap at assembly — whole groups (a table,
    // a list, a paragraph) are kept while the span budget lasts; no group is
    // half-emitted. Work/memory stay bounded by maxHtmlBytes regardless (the
    // classify pass is O(input bytes)); this cap bounds OUTPUT volume.
    val sizes = groupSizes(keptAll)
    val nGroups = capGroupCount(sizes, cfg.maxBlocksPerDoc)
    val keptSizes = sizes.take(nGroups)
    val kept =
      if (nGroups == sizes.length) keptAll else keptAll.take(keptSizes.sum)

    val text = assemble(kept, keptSizes, state.dom)
    t0 = System.nanoTime(); state.assembleNanos += t0 - t1

    (ExtractedDoc(url, text, kept.length, kept.map(_.span),
      charset.name().toLowerCase(java.util.Locale.ROOT),
      truncated), keptSizes)
  }

  /** Group partition of the kept sequence: a table run, a list run or a
    * singleton paragraph. [[assemble]] walks it, and the block cap and
    * ChunkedExtract's merge count by it. */
  private def groupSizes(kept: Vector[Kept]): Vector[Int] = {
    val out = Vector.newBuilder[Int]
    var i = 0
    while (i < kept.length) {
      val k = kept(i)
      var j = i + 1
      if (k.tableAnc >= 0) {
        while (j < kept.length && kept(j).tableAnc == k.tableAnc) j += 1
      } else if (k.listAnc >= 0) {
        while (j < kept.length && kept(j).listAnc == k.listAnc) j += 1
      }
      out += (j - i)
      i = j
    }
    out.result()
  }

  /** How many leading groups fit the span budget. Group 0 is always kept —
    * otherwise a single over-budget table would erase the whole document —
    * so output is bounded by max(cap, largest-single-group) spans, both
    * byte-bounded. Shared verbatim by ChunkedExtract.merge: the cap decision
    * is a pure function of the group-size sequence, which the chunker
    * preserves (groups never straddle fragments), so chunked == single-pass
    * holds THROUGH the cap. */
  private[graft] def capGroupCount(sizes: IndexedSeq[Int], cap: Int): Int = {
    var total = 0
    var g = 0
    while (g < sizes.length && (g == 0 || total + sizes(g) <= cap)) {
      total += sizes(g)
      g += 1
    }
    g
  }

  /** A kept block with the DOM facts assembly needs. */
  final case class Kept(span: Span, anchor: Int, tableAnc: Int, trAnc: Int,
                        listAnc: Int, cellAnc: Int)

  /** One walk to the root collecting all assembly anchors (table/tr/list/cell)
    * — replaces separate ancestor scans per kept block. */
  private def assemblyAnchors(dom: DomArena, node: Int): (Int, Int, Int, Int) = {
    var tableAnc = -1; var trAnc = -1; var listAnc = -1; var cellAnc = -1
    var cur = node
    while (cur >= 0) {
      if (trAnc < 0 && dom.is(cur, HtmlNames.Row)) trAnc = cur
      if (cellAnc < 0 && dom.is(cur, HtmlNames.Cell)) cellAnc = cur
      if (tableAnc < 0 && dom.is(cur, HtmlNames.Table)) tableAnc = cur
      if (listAnc < 0 && dom.is(cur, HtmlNames.List)) listAnc = cur
      cur = dom.parent(cur)
    }
    (tableAnc, trAnc, listAnc, cellAnc)
  }

  /** Rule-cascade classifier over candidate blocks (SURVEY.md §7.1 step 5; the
    * graft of TextClassifier + drop_score + header/footer drop:
    * tools/infer/predict_cls.py:38-134, predict_system.py:149-154,
    * ppstructure/recovery/recovery_to_markdown.py:168-169).
    */
  private def classify(input: Array[Byte], charset: Charset, bom: Int,
                       cfg: ExtractConfig, state: ExtractorState): Vector[Kept] = {
    val dom = state.dom
    val blocks = state.blocks
    val out = Vector.newBuilder[Kept]
    var kept = 0
    var b = 0
    val nb = blocks.nBlocks // O(input bytes) total; the block cap is applied
    val endAfter = new Array[Int](1) // group-atomically at assembly instead
    val w = state.seg
    while (b < nb) {
      val anchor = blocks.anchor(b)
      // fused decode + entity expansion + whitespace collapse + counting in a
      // single pass per segment (no intermediate strings per block — the
      // previous decode→normalize→count pipeline allocated three); the
      // accumulator is the reusable SegWriter (plain fields, no Ref boxing)
      w.reset()
      var s = blocks.segOff(b)
      val sEnd = blocks.segOff(b + 1)
      var curMath = -1 // math group tracking: consecutive segs of one <math>
      while (s < sEnd) {
        val segMath = blocks.segMathRoot(s)
        if (segMath != curMath) {
          if (curMath >= 0) w.closeMath()
          if (segMath >= 0) w.openMath()
          curMath = segMath
        }
        if (blocks.segKind(s) == SegKind.Break) {
          // <br> inside <pre> is a preserved line break, like a literal '\n'
          w.break((blocks.segCtx(s) & HtmlNames.Pre) != 0)
        }
        else {
          val from = math.max(blocks.segStart(s), bom)
          val segEnd = blocks.segEnd(s)
          val len = segEnd - from
          if (len > 0) {
            val inLink = (blocks.segCtx(s) & HtmlNames.Anchor) != 0
            val inPre = (blocks.segCtx(s) & HtmlNames.Pre) != 0
            // fast path: a pure-ASCII segment with no entity start decodes to
            // its own bytes under EVERY rawByteSafe charset (the 0x00-0x7F
            // roundtrip probe in Charsets guarantees it), so the String
            // allocation + charset decode can be skipped — most segments of
            // most pages take this path
            var asciiNoAmp = true
            var p = from
            while (asciiNoAmp && p < segEnd) {
              val b = input(p)
              if (b < 0 || b == '&') asciiNoAmp = false
              p += 1
            }
            if (asciiNoAmp) {
              // run-bulk emit: whitespace bytes go through put() (collapse
              // semantics), maximal non-ws runs append in one shot
              p = from
              while (p < segEnd) {
                val c = input(p).toChar
                if (c == ' ' || (c >= '\t' && c <= '\r')) { // ASCII ws set
                  w.put(c, inLink, inPre); p += 1
                } else {
                  var q = p + 1
                  while (q < segEnd && {
                    val d = input(q)
                    d != ' ' && (d < '\t' || d > '\r')
                  }) q += 1
                  w.putRun(input, p, q, inLink)
                  p = q
                }
              }
            } else {
              // reused decoder + buffer — no String per segment (see
              // ExtractorState.decodeSegment for the equivalence argument)
              val cb = state.decodeSegment(input, from, len, charset)
              val chars = cb.buf
              val m = cb.len
              var i = 0
              while (i < m) {
                val c = chars(i)
                if (c == '&') {
                  val rep = Entities.decodeAt(cb, i, endAfter)
                  if (rep != null) {
                    var r = 0
                    while (r < rep.length) { w.put(rep.charAt(r), inLink, inPre); r += 1 }
                    i = endAfter(0)
                  } else { w.put(c, inLink, inPre); i += 1 }
                } else { w.put(c, inLink, inPre); i += 1 }
              }
            }
          }
        }
        s += 1
      }
      if (curMath >= 0) w.closeMath() // flush a trailing math group
      val text = w.sb.toString
      val linkChars = w.linkChars
      val nonWs = w.nonWs
      // pure-math block with exactly ONE formula → labeled formula, span text
      // = the raw source (multi-formula or mixed blocks keep inline `$…$`
      // delimiters inside ordinary content text)
      val pureMath = w.mathGroups == 1 && nonWs > 0 && nonWs == w.mathNonWs
      // plain-webtext display math (the MathJax source convention): a block
      // that IS one `$$…$$` / `\[…\]` group — MathML-free blocks only
      val texSrc = if (w.mathGroups == 0) texDelimited(text) else null
      val isHeading = dom.is(anchor, HtmlNames.Heading)
      val isCell = dom.is(anchor, HtmlNames.Cell)
      val isItem = dom.is(anchor, HtmlNames.Item)

      // the cascade (first matching rule wins) — deterministic integer gates
      var label: String = null
      if (nonWs == 0) label = null // empty
      else if (dom.within(anchor, HtmlNames.Boiler)) label = null // nav/header/footer/aside subtree
      else if (dom.within(anchor, DomArena.HintBoiler) && !dom.within(anchor, DomArena.HintContent))
        label = null
      else if (isHeading) label = Labels.Title
      else if ((pureMath || texSrc != null) && linkChars * 2 < nonWs)
        // before the length gates: $E=mc^2$ is short. Links must be a strict
        // MINORITY (< 1/2 — tighter than the general 2/3 nav gate, because a
        // short `$$<a>home</a> <a>about</a>$$` spam block in the 1/2–2/3
        // band would otherwise bypass the short-link gate below and emit as
        // a top-scored formula): a genuine formula with an embedded
        // equation-number anchor ("(3)") keeps its label at a tiny link
        // fraction, $$-wrapped nav/spam falls through to the drop gates.
        // MathML math never counts toward linkChars at all (see the mathSb
        // accounting above), so pureMath blocks pass regardless.
        label = Labels.Formula
      else if (linkChars * cfg.linkDenR >= nonWs * cfg.linkDenN && linkChars > 0)
        label = null // link-dominated (nav-like)
      else if (nonWs < cfg.shortChars && linkChars * 2 >= nonWs) label = null
      else if (isCell) label = Labels.Cell
      else if (isItem) label = Labels.Item
      else if (nonWs < cfg.minContentChars) label = null // short stray text
      else label = Labels.Content

      if (label != null) {
        val score: Double = label match {
          case Labels.Title => 1.0
          case Labels.Formula => 0.9
          case Labels.Cell | Labels.Item => 0.75
          case _ => math.min(1.0, nonWs.toDouble / 200.0)
        }
        if (score >= cfg.dropScore) {
          val spanText =
            if (label == Labels.Formula) {
              if (w.firstMathSrc != null) w.firstMathSrc else texSrc
            } else text
          val span = Span(kept, dom.tagPath(anchor), blocks.byteStart(b),
            blocks.byteEnd(b), label, score, spanText)
          val (tableAnc, trAnc, listAnc, cellAnc) = assemblyAnchors(dom, anchor)
          out += Kept(span, anchor, tableAnc, trAnc, listAnc, cellAnc)
          kept += 1
        }
      }
      b += 1
    }
    out.result()
  }

  /** Whole-block TeX display math in plain webtext (the MathJax source
    * convention: `$$…$$` or `\[…\]` wrapping the entire block — arXiv /
    * StackExchange-style pages ship TeX sources for client-side render).
    * Returns the trimmed inner source, or null. Deliberately conservative:
    * exact delimiters at BOTH ends, no interior closer, and (for `$$`) no
    * stray `$` in the source — prose that merely contains dollar signs or
    * prices can never misfire, and inline `\(…\)`/`$…$` is left as ordinary
    * text. */
  private def texDelimited(text: String): String = {
    val n = text.length
    if (n < 5) null
    else if (text.startsWith("$$") && text.endsWith("$$") &&
        text.indexOf("$$", 2) == n - 2) {
      val inner = text.substring(2, n - 2).trim
      if (inner.nonEmpty && inner.indexOf('$') < 0) inner else null
    } else if (text.startsWith("\\[") && text.endsWith("\\]") &&
        text.indexOf("\\]", 2) == n - 2) {
      val inner = text.substring(2, n - 2).trim
      if (inner.nonEmpty) inner else null
    } else null
  }

  /** Document-order assembly (≡ convert_info_markdown minus markdown syntax,
    * recovery_to_markdown.py:129-187): consecutive cells of one table group with
    * " | " within a row and "\n" across rows; list items group with "\n";
    * paragraph units join with "\n\n".
    */
  /** Formula spans carry the raw source in span.text; rendering adds the TeX
    * delimiters — `$src$` inline (table cells / list items), `$$src$$` as a
    * standalone paragraph group (recovery_to_markdown.py:170-171). */
  @inline private def rendered(k: Kept): String =
    if (k.span.label == Labels.Formula) "$" + k.span.text + "$" else k.span.text

  private def assemble(kept: Vector[Kept], sizes: Vector[Int], dom: DomArena): String = {
    val sb = new java.lang.StringBuilder(256)
    var i = 0
    for (n <- sizes) {
      if (i > 0) sb.append("\n\n")
      val k = kept(i)
      if (k.tableAnc >= 0) sb.append(assembleTable(kept, i, i + n, dom))
      else if (k.listAnc >= 0) {
        for (j <- i until i + n) { if (j > i) sb.append('\n'); sb.append(rendered(kept(j))) }
      } else sb.append(if (k.span.label == Labels.Formula) "$$" + k.span.text + "$$" else k.span.text)
      i += n
    }
    sb.toString
  }

  /** Assemble one table run kept[from, until) with colspan/rowspan occupancy
    * (≡ the reference's span-aware structure decode,
    * ppocr/postprocess/table_postprocess.py:60-94):
    *
    *  - consecutive kept blocks inside the same cell join with " | "
    *    (pre-span behavior preserved);
    *  - rows = consecutive runs of one tr; cells within a row join with
    *    " | ", rows join with "\n";
    *  - a grid column covered by a rowspan from ABOVE contributes an empty
    *    slot (its " | " separator stays), so later cells keep their visual
    *    column — `a | b` / ` | c` reads "c sits under b";
    *  - a colspan advances the column cursor without emitting extra slots
    *    (the spanning cell itself is present in the row).
    *
    * Known boundary: a source row with no kept cells (fully empty <tr>)
    * emits nothing and does not age rowspan coverage — same as the pre-span
    * behavior of skipping dropped cells. */
  private def assembleTable(kept: Vector[Kept], from: Int, until: Int,
                            dom: DomArena): String = {
    val sb = new java.lang.StringBuilder(64)
    val colFill = scala.collection.mutable.ArrayBuffer.empty[Int] // rows still covered per column
    var firstRow = true
    var i = from
    while (i < until) {
      val rowTr = kept(i).trAnc
      var j = i + 1
      while (j < until && kept(j).trAnc == rowTr) j += 1
      if (!firstRow) sb.append('\n')
      firstRow = false
      if (rowTr < 0) {
        // caption-like blocks outside any tr: no grid, plain " | " join
        var c = i
        while (c < j) { if (c > i) sb.append(" | "); sb.append(rendered(kept(c))); c += 1 }
      } else {
        var col = 0
        var firstCell = true
        @inline def sep(): Unit =
          if (firstCell) firstCell = false else sb.append(" | ")
        var c = i
        while (c < j) {
          // fuse consecutive kept blocks of the same cell into one grid cell
          val cell = kept(c).cellAnc
          val cellText = new java.lang.StringBuilder(16)
          cellText.append(rendered(kept(c)))
          var e = c + 1
          while (e < j && cell >= 0 && kept(e).cellAnc == cell) {
            cellText.append(" | ").append(rendered(kept(e)))
            e += 1
          }
          // skip columns still covered by rowspans from earlier rows
          while (col < colFill.length && colFill(col) > 0) { sep(); col += 1 }
          sep()
          sb.append(cellText)
          val cs = if (cell >= 0) dom.colspanOf(cell) else 1
          val rs = if (cell >= 0) dom.rowspanOf(cell) else 1
          // coverage includes the current row (aged by the end-of-row
          // decrement below), so rowspan=N covers the N-1 following rows
          while (colFill.length < col + cs) colFill += 0
          if (rs > 1) { var x = col; while (x < col + cs) { colFill(x) = rs; x += 1 } }
          col += cs
          c = e
        }
        // trailing covered columns after the last cell keep their slots
        while (col < colFill.length && colFill(col) > 0) { sep(); col += 1 }
        // this row is done: age all coverage by one row
        var x = 0
        while (x < colFill.length) { if (colFill(x) > 0) colFill(x) -= 1; x += 1 }
      }
      i = j
    }
    sb.toString
  }
}
