package graft.dom

import graft.htmltok.{HtmlNames, HtmlTokenizer, Tok, TokenArena, TokenFlags}

/** Compact arena-allocated DOM: parallel primitive arrays in document (pre-)order.
  * No Node objects — the north-star "arena-allocated DOM". Reused across documents
  * within a partition (reset between docs), like the reference constructing its
  * predictors once per process (tools/infer/predict_system.py:47-75).
  *
  * Tag-soup recovery rules (HTML5-ish, deliberately minimal + deterministic):
  *  - stray end tags with no matching open ancestor are ignored
  *  - an end tag closes everything up to (and incl.) the nearest matching open tag
  *  - <p>/<li>/<td>/<th>/<tr>/<dd>/<dt>/<option> auto-close an open same-name sibling
  *  - any block-level start tag closes an open <p>
  *  - <body> or any block-level start tag closes an open <head>
  *  - in tables and <dl>s, a new row, cell, section or dt/dd closes the open
  *    ones up to its table or list (HTML5 implied end tags)
  *
  * HtmlChunker plans its seams on this tree too, so these rules live here
  * alone.
  */
final class DomArena(initialCapacity: Int = 512) {
  var nNodes: Int = 0
  var parent: Array[Int] = new Array[Int](initialCapacity)
  var tagId: Array[Int] = new Array[Int](initialCapacity) // -1 = text node
  var flags: Array[Int] = new Array[Int](initialCapacity)
  /** Text nodes: start of the text's byte range. Element nodes: byte offset
    * of the start tag's '<' (HtmlChunker places its seams there). */
  var tStart: Array[Int] = new Array[Int](initialCapacity)
  var tEnd: Array[Int] = new Array[Int](initialCapacity) // text nodes: end of the byte range
  // cached per-node ancestry facts, computed during build (O(1) via parent's value)
  var inSkip: Array[Boolean] = new Array[Boolean](initialCapacity)
  var inBoiler: Array[Boolean] = new Array[Boolean](initialCapacity)
  var inHintBoiler: Array[Boolean] = new Array[Boolean](initialCapacity)
  var inHintContent: Array[Boolean] = new Array[Boolean](initialCapacity)
  var inLink: Array[Boolean] = new Array[Boolean](initialCapacity)
  var inPre: Array[Boolean] = new Array[Boolean](initialCapacity)
  var blockAnchor: Array[Int] = new Array[Int](initialCapacity) // nearest block-level ancestor-or-self
  // formula branch (MathML): nearest <math> ancestor-or-self (-1 = none),
  // inside-any-<annotation>/-<annotation-xml> subtree, inside a TeX-encoded
  // <annotation>, and per-<math>-root "a TeX annotation exists somewhere
  // under me" (computed in one linear post-pass at the end of build)
  var mathRoot: Array[Int] = new Array[Int](initialCapacity)
  var inAnn: Array[Boolean] = new Array[Boolean](initialCapacity)
  var inTexAnn: Array[Boolean] = new Array[Boolean](initialCapacity)
  var mathHasTex: Array[Boolean] = new Array[Boolean](initialCapacity)
  var names: IndexedSeq[String] = Vector.empty // interned tag names (from TokenArena)

  def reset(): Unit = nNodes = 0

  private def grow(): Unit = {
    val cap = parent.length * 2
    parent = java.util.Arrays.copyOf(parent, cap)
    tagId = java.util.Arrays.copyOf(tagId, cap)
    flags = java.util.Arrays.copyOf(flags, cap)
    tStart = java.util.Arrays.copyOf(tStart, cap)
    tEnd = java.util.Arrays.copyOf(tEnd, cap)
    inSkip = java.util.Arrays.copyOf(inSkip, cap)
    inBoiler = java.util.Arrays.copyOf(inBoiler, cap)
    inHintBoiler = java.util.Arrays.copyOf(inHintBoiler, cap)
    inHintContent = java.util.Arrays.copyOf(inHintContent, cap)
    inLink = java.util.Arrays.copyOf(inLink, cap)
    inPre = java.util.Arrays.copyOf(inPre, cap)
    blockAnchor = java.util.Arrays.copyOf(blockAnchor, cap)
    mathRoot = java.util.Arrays.copyOf(mathRoot, cap)
    inAnn = java.util.Arrays.copyOf(inAnn, cap)
    inTexAnn = java.util.Arrays.copyOf(inTexAnn, cap)
    mathHasTex = java.util.Arrays.copyOf(mathHasTex, cap)
    pathCache = java.util.Arrays.copyOf(pathCache, cap)
  }

  def name(node: Int): String = { val t = tagId(node); if (t < 0) "#text" else names(t) }

  def isText(node: Int): Boolean = tagId(node) < 0

  /** Table-span attributes of a node (1 when absent; packed by the tokenizer). */
  def colspanOf(node: Int): Int = TokenFlags.colspan(flags(node))
  def rowspanOf(node: Int): Int = TokenFlags.rowspan(flags(node))

  // memoized root→node path strings (shared prefixes computed once per doc;
  // entries are invalidated per-node in addNode, so reuse across docs is safe)
  private var pathCache: Array[String] = new Array[String](initialCapacity)

  /** Path of element names from root to `node`, '/'-joined (span tagPath).
    * Iterative: walk up to the nearest cached ancestor, then fill the cache
    * back down — recursion on DOM depth StackOverflowed on pathological
    * 10k+-deep nesting, deterministically killing the task AND its retries. */
  def tagPath(node: Int): String = {
    val elem = if (isText(node)) parent(node) else node
    if (elem < 0) return ""
    val cached = pathCache(elem)
    if (cached != null) return cached
    val chain = new scala.collection.mutable.ArrayBuffer[Int](16)
    var cur = elem
    while (cur >= 0 && pathCache(cur) == null) { chain += cur; cur = parent(cur) }
    var prefix: String = if (cur >= 0) pathCache(cur) else null
    var k = chain.length - 1
    while (k >= 0) {
      val n = chain(k)
      prefix = if (prefix == null) name(n) else prefix + "/" + name(n)
      pathCache(n) = prefix
      k -= 1
    }
    prefix
  }

  private def addNode(p: Int, tag: Int, fl: Int, ts: Int, te: Int, tagName: String): Int = {
    if (nNodes == parent.length) grow()
    val id = nNodes
    parent(id) = p
    tagId(id) = tag
    flags(id) = fl
    tStart(id) = ts
    tEnd(id) = te
    val isElem = tag >= 0
    val nm = if (isElem) tagName else null
    val pSkip = p >= 0 && inSkip(p)
    val pBoiler = p >= 0 && inBoiler(p)
    val pHintB = p >= 0 && inHintBoiler(p)
    val pHintC = p >= 0 && inHintContent(p)
    val pLink = p >= 0 && inLink(p)
    val pPre = p >= 0 && inPre(p)
    inSkip(id) = pSkip || (isElem && HtmlNames.isSkip(nm))
    inPre(id) = pPre || (isElem && (nm == "pre" || nm == "textarea"))
    inBoiler(id) = pBoiler || (isElem && HtmlNames.isBoiler(nm))
    inHintBoiler(id) = pHintB || (fl & TokenFlags.HintBoiler) != 0
    inHintContent(id) = pHintC || (fl & TokenFlags.HintContent) != 0
    inLink(id) = pLink || (isElem && nm == "a")
    blockAnchor(id) =
      if (isElem && HtmlNames.isBlock(nm)) id
      else if (p >= 0) blockAnchor(p)
      else id
    mathRoot(id) =
      if (isElem && nm == "math") id
      else if (p >= 0) mathRoot(p)
      else -1
    inAnn(id) = (p >= 0 && inAnn(p)) ||
      (isElem && (nm == "annotation" || nm == "annotation-xml"))
    inTexAnn(id) = (p >= 0 && inTexAnn(p)) ||
      (isElem && nm == "annotation" && (fl & TokenFlags.TexEncoding) != 0)
    mathHasTex(id) = false // set by build()'s post-pass (per-doc clean slate)
    pathCache(id) = null // invalidate any stale path from a previous document
    nNodes += 1
    id
  }

  /** Build from a tokenized arena. Returns this. */
  def build(toks: TokenArena): DomArena = {
    reset()
    names = toks.namesSnapshot
    // open-element stack of node ids
    var stack = new Array[Int](64)
    var sp = 0
    def top: Int = if (sp == 0) -1 else stack(sp - 1)
    def push(node: Int): Unit = {
      if (sp == stack.length) stack = java.util.Arrays.copyOf(stack, sp * 2)
      stack(sp) = node; sp += 1
    }
    var i = 0
    while (i < toks.size) {
      (toks.kinds(i): @annotation.switch) match {
        case Tok.Text =>
          addNode(top, -1, 0, toks.starts(i), toks.ends(i), null)
        case Tok.Cdata =>
          // strip the "<![CDATA[" wrapper (9 bytes) and, ONLY when the
          // closer exists (token flag 1), the trailing "]]>" — an unclosed
          // construct to EOF has real content in its last 3 bytes
          val ts = toks.starts(i) + 9
          val closerLen = if (toks.flags(i) == 1) 3 else 0
          val te = math.max(ts, toks.ends(i) - closerLen)
          if (te > ts) addNode(top, -1, 0, ts, te, null)
        case Tok.Start =>
          val tid = toks.tagIds(i)
          val nm = names(tid)
          // implicit </head>: anything body-level (body itself or any block
          // element) closes an open head — a page omitting </head> (legal
          // HTML5) must not inherit head's skip-subtree status for its whole
          // body, which extracted as EMPTY text
          if (nm == "body" || HtmlNames.isBlock(nm)) {
            var k = sp - 1
            while (k >= 0) {
              if (tagId(stack(k)) >= 0 && name(stack(k)) == "head") { sp = k; k = 0 }
              k -= 1
            }
          }
          // HTML5 implied end tags ACROSS names (§13.2 in-table / in-dl
          // modes): a new row closes open cells AND the previous row, a new
          // cell closes the open cell, a new dt/dd closes the open dt/dd —
          // each clearing EVERYTHING above its section barrier (browsers'
          // "clear stack back to table-row context"). Without these, legal
          // omitted-end-tag markup like '<table><tr><td>A<tr><td>B' nested
          // the second row INSIDE the first cell (same-name auto-close
          // stopped at the td block boundary), corrupting depth/tagPath and
          // the table-assembly anchors.
          locally {
            def clearAbove(target: String => Boolean,
                           barrier: String => Boolean): Unit = {
              var k = sp - 1
              var bi = -1
              var sawTarget = false
              while (k >= 0 && bi < 0) {
                val nk = if (tagId(stack(k)) >= 0) name(stack(k)) else ""
                if (barrier(nk)) bi = k
                else if (target(nk)) sawTarget = true
                k -= 1
              }
              // only clear when a closable element is actually open above
              // the barrier — a stray cell/row tag with no table context
              // must not close unrelated ancestors
              if (bi >= 0 && sawTarget) sp = bi + 1
            }
            nm match {
              case "tr" => clearAbove(
                n => n == "td" || n == "th" || n == "tr",
                n => n == "table" || n == "thead" || n == "tbody" || n == "tfoot")
              case "td" | "th" => clearAbove(
                n => n == "td" || n == "th",
                n => n == "tr" || n == "table")
              case "thead" | "tbody" | "tfoot" => clearAbove(
                n => n == "td" || n == "th" || n == "tr" ||
                  n == "thead" || n == "tbody" || n == "tfoot",
                n => n == "table")
              case "dt" | "dd" => clearAbove(
                n => n == "dt" || n == "dd",
                n => n == "dl")
              case _ => ()
            }
          }
          // implicit closes
          if (HtmlNames.autoCloses(nm)) {
            // close an open same-name sibling up to the nearest block boundary
            var k = sp - 1
            var found = -1
            while (k >= 0 && found < 0) {
              if (tagId(stack(k)) == tid) found = k
              else if (HtmlNames.isBlock(name(stack(k))) && name(stack(k)) != "p") k = -1
              k -= 1
            }
            if (found >= 0) sp = found
          }
          if (HtmlNames.isBlock(nm) && sp > 0 && name(top) == "p" && nm != "p") sp -= 1
          val node = addNode(top, tid, toks.flags(i), toks.starts(i), 0, nm)
          push(node)
        case Tok.SelfClose =>
          val tid = toks.tagIds(i)
          addNode(top, tid, toks.flags(i), toks.starts(i), 0, names(tid))
        case Tok.End =>
          val tid = toks.tagIds(i)
          var k = sp - 1
          var found = -1
          while (k >= 0 && found < 0) { if (tagId(stack(k)) == tid) found = k; k -= 1 }
          if (found >= 0) sp = found // pop to and including the match; stray ends ignored
        case _ => () // comments, doctype: no DOM node
      }
      i += 1
    }
    // formula post-pass: mark each <math> root that carries a TeX-encoded
    // <annotation> descendant (source-selection fact for the segmenter —
    // prefer the TeX source, drop the presentation linearization). Linear in
    // nodes; an element IS its own inTexAnn when it is the annotation, so the
    // check below fires exactly on TeX-annotation elements.
    var k = 0
    while (k < nNodes) {
      if (tagId(k) >= 0 && inTexAnn(k) && mathRoot(k) >= 0 &&
          (flags(k) & TokenFlags.TexEncoding) != 0 && name(k) == "annotation")
        mathHasTex(mathRoot(k)) = true
      k += 1
    }
    this
  }
}

/** One segment of a block: a text-node byte range, or a break marker (<br>). */
object SegKind { final val Text = 0; final val Break = 1 }

/** A candidate block: consecutive text under one nearest-block-level anchor.
  * The analog of a det box (SURVEY.md §2.6): candidate region + source coords.
  * Reused builder — segments in flat arrays.
  */
final class BlockArena(initialCapacity: Int = 256) {
  var nBlocks: Int = 0
  var anchor: Array[Int] = new Array[Int](initialCapacity)
  var segOff: Array[Int] = new Array[Int](initialCapacity + 1) // CSR offsets into seg arrays
  var byteStart: Array[Int] = new Array[Int](initialCapacity)
  var byteEnd: Array[Int] = new Array[Int](initialCapacity)

  var nSegs: Int = 0
  var segKind: Array[Int] = new Array[Int](1024)
  var segStart: Array[Int] = new Array[Int](1024)
  var segEnd: Array[Int] = new Array[Int](1024)
  var segInLink: Array[Boolean] = new Array[Boolean](1024)
  var segInPre: Array[Boolean] = new Array[Boolean](1024)
  // formula branch: the <math> root this segment belongs to (-1 = plain text).
  // Consecutive segments sharing one root form one math group in classify.
  var segMathRoot: Array[Int] = new Array[Int](1024)

  def reset(): Unit = { nBlocks = 0; nSegs = 0; segOff(0) = 0 }

  private def growBlocks(): Unit = {
    val cap = anchor.length * 2
    anchor = java.util.Arrays.copyOf(anchor, cap)
    segOff = java.util.Arrays.copyOf(segOff, cap + 1)
    byteStart = java.util.Arrays.copyOf(byteStart, cap)
    byteEnd = java.util.Arrays.copyOf(byteEnd, cap)
  }
  private def growSegs(): Unit = {
    val cap = segKind.length * 2
    segKind = java.util.Arrays.copyOf(segKind, cap)
    segStart = java.util.Arrays.copyOf(segStart, cap)
    segEnd = java.util.Arrays.copyOf(segEnd, cap)
    segInLink = java.util.Arrays.copyOf(segInLink, cap)
    segInPre = java.util.Arrays.copyOf(segInPre, cap)
    segMathRoot = java.util.Arrays.copyOf(segMathRoot, cap)
  }

  def startBlock(anchorNode: Int): Unit = {
    if (nBlocks == anchor.length) growBlocks()
    anchor(nBlocks) = anchorNode
    byteStart(nBlocks) = Int.MaxValue
    byteEnd(nBlocks) = Int.MinValue
    nBlocks += 1
    segOff(nBlocks) = nSegs
  }

  def addSeg(kind: Int, start: Int, end: Int, inLink: Boolean,
             inPre: Boolean = false, mathRoot: Int = -1): Unit = {
    if (nSegs == segKind.length) growSegs()
    segKind(nSegs) = kind
    segStart(nSegs) = start
    segEnd(nSegs) = end
    segInLink(nSegs) = inLink
    segInPre(nSegs) = inPre
    segMathRoot(nSegs) = mathRoot
    nSegs += 1
    segOff(nBlocks) = nSegs
    if (kind == SegKind.Text) {
      val b = nBlocks - 1
      if (start < byteStart(b)) byteStart(b) = start
      if (end > byteEnd(b)) byteEnd(b) = end
    }
  }
}

/** Block segmentation: walk the DOM in document order; each text node joins the
  * block of its nearest block-level ancestor; consecutive text nodes with the same
  * anchor fuse into one block (the structural form of merge_fragmented,
  * tools/infer/utility.py:994-1018 — fragments inside one container are one block
  * by construction, no fixpoint needed). Skip-subtree content (script/style/head/
  * svg/noscript/iframe/template) is excluded, like the reference dropping non-text
  * layout regions before recognition.
  */
object BlockSegmenter {
  def segment(dom: DomArena, blocks: BlockArena): Unit = {
    blocks.reset()
    var curAnchor = -2 // none
    var i = 0
    while (i < dom.nNodes) {
      if (dom.isText(i)) {
        if (!dom.inSkip(i)) {
          val m = dom.mathRoot(i)
          // formula source selection (MathML): drop non-TeX <annotation>/
          // <annotation-xml> bodies (alternate renderings), and drop the
          // presentation linearization when the <math> carries a TeX source —
          // keeping both would double-emit the formula (the webtext analog of
          // the reference recognizing an equation region ONCE,
          // ppstructure/predict_system.py:171-174)
          val keep =
            if (m < 0) true
            else if (dom.inTexAnn(i)) true
            else if (dom.inAnn(i)) false
            else !dom.mathHasTex(m)
          if (keep) {
            val a = dom.blockAnchor(i)
            if (a != curAnchor) { blocks.startBlock(a); curAnchor = a }
            blocks.addSeg(SegKind.Text, dom.tStart(i), dom.tEnd(i), dom.inLink(i),
              dom.inPre(i), m)
          }
        }
      } else {
        val nm = dom.name(i)
        if (nm == "br" && curAnchor == dom.blockAnchor(i) && curAnchor >= 0 && !dom.inSkip(i)) {
          blocks.addSeg(SegKind.Break, 0, 0, inLink = false, dom.inPre(i), dom.mathRoot(i))
        } else if (HtmlNames.isBlock(nm)) {
          // a block element boundary always terminates the running block,
          // even if the next text re-anchors to the same node (e.g. <p>a<div>x</div>b</p>)
          curAnchor = -2
        }
      }
      i += 1
    }
  }
}
