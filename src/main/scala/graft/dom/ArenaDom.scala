package graft.dom

import graft.htmltok.{HtmlNames, Tok, TokenArena, TokenFlags}

/** Compact arena-allocated DOM: parallel primitive arrays in document (pre-)order.
  * No Node objects — the north-star "arena-allocated DOM". Reused across documents
  * within a partition (reset between docs), like the reference constructing its
  * predictors once per process (tools/infer/predict_system.py:47-75).
  *
  * Tag-soup recovery rules (HTML5-ish, deliberately minimal + deterministic),
  * each a bit test on the start tag's [[HtmlNames]] class:
  *  - stray end tags with no matching open ancestor are ignored
  *  - an end tag closes everything up to (and incl.) the nearest matching open tag
  *  - an `AutoClose` start closes an open same-name element up to the nearest
  *    `Block` that is not `Para`
  *  - a `Block` start (body is one) closes an open `Head`, and a non-`Para`
  *    `Block` closes a `Para` on top of the stack
  *  - implied end tags: a `Row` start clears `Row`/`Cell` back to a `Table`/
  *    `Section`, a `Cell` start `Cell` back to `Row`/`Table`, a `Section` start
  *    `Cell`/`Row`/`Section` back to `Table`, a `DefItem` start `DefItem` back
  *    to `DefList`
  *
  * Each node keeps its class bits (`cls`) and one inherited context (`ctx`):
  * the parent's context OR the node's own `Skip`, `Boiler`, `Anchor`, `Pre`
  * and `AnyAnnotation` bits, class/id hints and TeX `Annotation`. HtmlChunker
  * plans its seams on this tree too, so these rules live here alone.
  */
final class DomArena(initialCapacity: Int = 512) {
  import DomArena._

  var nNodes: Int = 0
  var parent: Array[Int] = new Array[Int](initialCapacity)
  var tagId: Array[Int] = new Array[Int](initialCapacity) // -1 = text node
  var flags: Array[Int] = new Array[Int](initialCapacity)
  /** Text nodes: start of the text's byte range. Element nodes: byte offset
    * of the start tag's '<' (HtmlChunker places its seams there). */
  var tStart: Array[Int] = new Array[Int](initialCapacity)
  var tEnd: Array[Int] = new Array[Int](initialCapacity) // text nodes: end of the byte range
  /** own HtmlNames class bits (0 for text), plus [[DomArena.MathTex]] */
  var cls: Array[Int] = new Array[Int](initialCapacity)
  /** inherited context bits, see the class comment */
  var ctx: Array[Int] = new Array[Int](initialCapacity)
  var blockAnchor: Array[Int] = new Array[Int](initialCapacity) // nearest block-level ancestor-or-self
  // formula branch (MathML): nearest <math> ancestor-or-self (-1 = none)
  var mathRoot: Array[Int] = new Array[Int](initialCapacity)
  private var toks: TokenArena = null // the tokens (and tag names) of the last build
  private var stack = new Array[Int](64) // open-element stack of node ids
  private var sp = 0

  def reset(): Unit = nNodes = 0

  private def grow(): Unit = {
    val cap = parent.length * 2
    parent = java.util.Arrays.copyOf(parent, cap)
    tagId = java.util.Arrays.copyOf(tagId, cap)
    flags = java.util.Arrays.copyOf(flags, cap)
    tStart = java.util.Arrays.copyOf(tStart, cap)
    tEnd = java.util.Arrays.copyOf(tEnd, cap)
    cls = java.util.Arrays.copyOf(cls, cap)
    ctx = java.util.Arrays.copyOf(ctx, cap)
    blockAnchor = java.util.Arrays.copyOf(blockAnchor, cap)
    mathRoot = java.util.Arrays.copyOf(mathRoot, cap)
    pathCache = java.util.Arrays.copyOf(pathCache, cap)
  }

  def name(node: Int): String = { val t = tagId(node); if (t < 0) "#text" else toks.tagName(t) }

  def isText(node: Int): Boolean = tagId(node) < 0

  /** Does `node` itself carry class bit `c`? */
  def is(node: Int, c: Int): Boolean = (cls(node) & c) != 0

  /** Does `node` sit in (or is it) a subtree with context bit `c`? */
  def within(node: Int, c: Int): Boolean = (ctx(node) & c) != 0

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

  private def addNode(p: Int, tag: Int, fl: Int, ts: Int, te: Int): Int = {
    if (nNodes == parent.length) grow()
    val id = nNodes
    val c = if (tag >= 0) toks.tagClass(tag) else 0
    parent(id) = p
    tagId(id) = tag
    flags(id) = fl
    tStart(id) = ts
    tEnd(id) = te
    cls(id) = c
    var own = c & Inherited
    if ((fl & TokenFlags.HintBoiler) != 0) own |= HintBoiler
    if ((fl & TokenFlags.HintContent) != 0) own |= HintContent
    if ((c & HtmlNames.Annotation) != 0 && (fl & TokenFlags.TexEncoding) != 0) own |= TexAnnotation
    ctx(id) = (if (p >= 0) ctx(p) else 0) | own
    blockAnchor(id) =
      if ((c & HtmlNames.Block) != 0) id
      else if (p >= 0) blockAnchor(p)
      else id
    mathRoot(id) =
      if ((c & HtmlNames.Math) != 0) id
      else if (p >= 0) mathRoot(p)
      else -1
    // a TeX source under a <math> root: the segmenter keeps it and drops
    // the root's presentation text
    if ((own & TexAnnotation) != 0 && mathRoot(id) >= 0) cls(mathRoot(id)) |= MathTex
    pathCache(id) = null // invalidate any stale path from a previous document
    nNodes += 1
    id
  }

  private def top: Int = if (sp == 0) -1 else stack(sp - 1)

  private def push(node: Int): Unit = {
    if (sp == stack.length) stack = java.util.Arrays.copyOf(stack, sp * 2)
    stack(sp) = node; sp += 1
  }

  /** Clear the open elements above the nearest `barrier`-class element,
    * when one of them is of a `target` class — a stray cell/row tag with no
    * table context must not close unrelated ancestors. */
  private def clearAbove(target: Int, barrier: Int): Unit = {
    var k = sp - 1
    var bi = -1
    var sawTarget = false
    while (k >= 0 && bi < 0) {
      val c = cls(stack(k))
      if ((c & barrier) != 0) bi = k
      else if ((c & target) != 0) sawTarget = true
      k -= 1
    }
    if (bi >= 0 && sawTarget) sp = bi + 1
  }

  /** Build from a tokenized arena; names and classes are read from `toks`
    * until the next build. Returns this. */
  def build(toks: TokenArena): DomArena = {
    reset()
    this.toks = toks
    sp = 0
    var i = 0
    while (i < toks.size) {
      (toks.kinds(i): @annotation.switch) match {
        case Tok.Text =>
          addNode(top, -1, 0, toks.starts(i), toks.ends(i))
        case Tok.Cdata =>
          // strip the "<![CDATA[" wrapper (9 bytes) and, ONLY when the
          // closer exists (token flag 1), the trailing "]]>" — an unclosed
          // construct to EOF has real content in its last 3 bytes
          val ts = toks.starts(i) + 9
          val closerLen = if (toks.flags(i) == 1) 3 else 0
          val te = math.max(ts, toks.ends(i) - closerLen)
          if (te > ts) addNode(top, -1, 0, ts, te)
        case Tok.Start =>
          val tid = toks.tagIds(i)
          val c = toks.tagClass(tid)
          // implicit </head>: anything body-level closes an open head — a
          // page omitting </head> (legal HTML5) must not inherit head's
          // skip-subtree status for its whole body, which extracted as EMPTY
          // text
          if ((c & HtmlNames.Block) != 0) {
            var k = sp - 1
            while (k >= 0) {
              if ((cls(stack(k)) & HtmlNames.Head) != 0) { sp = k; k = 0 }
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
          if ((c & HtmlNames.Row) != 0)
            clearAbove(HtmlNames.Row | HtmlNames.Cell, HtmlNames.Table | HtmlNames.Section)
          else if ((c & HtmlNames.Cell) != 0)
            clearAbove(HtmlNames.Cell, HtmlNames.Row | HtmlNames.Table)
          else if ((c & HtmlNames.Section) != 0)
            clearAbove(HtmlNames.Cell | HtmlNames.Row | HtmlNames.Section, HtmlNames.Table)
          else if ((c & HtmlNames.DefItem) != 0)
            clearAbove(HtmlNames.DefItem, HtmlNames.DefList)
          // implicit closes
          if ((c & HtmlNames.AutoClose) != 0) {
            // close an open same-name sibling up to the nearest block boundary
            var k = sp - 1
            var found = -1
            while (k >= 0 && found < 0) {
              if (tagId(stack(k)) == tid) found = k
              else if ((cls(stack(k)) & (HtmlNames.Block | HtmlNames.Para)) == HtmlNames.Block) k = -1
              k -= 1
            }
            if (found >= 0) sp = found
          }
          if ((c & (HtmlNames.Block | HtmlNames.Para)) == HtmlNames.Block && sp > 0 &&
              (cls(top) & HtmlNames.Para) != 0) sp -= 1
          push(addNode(top, tid, toks.flags(i), toks.starts(i), 0))
        case Tok.SelfClose =>
          addNode(top, toks.tagIds(i), toks.flags(i), toks.starts(i), 0)
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
    this
  }
}

object DomArena {
  /** The class bits a node passes on to its subtree as they are. */
  private val Inherited = HtmlNames.Skip | HtmlNames.Boiler | HtmlNames.Anchor |
    HtmlNames.Pre | HtmlNames.AnyAnnotation
  // context and mark bits, above every HtmlNames class bit
  final val HintBoiler = 1 << 26 // ctx: a class/id matched the boilerplate-hint lexicon
  final val HintContent = 1 << 27 // ctx: a class/id matched the content-hint lexicon
  final val TexAnnotation = 1 << 28 // ctx: inside a TeX-encoded <annotation>
  final val MathTex = 1 << 29 // cls: a <math> root holding a TeX-encoded <annotation>
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
  var segCtx: Array[Int] = new Array[Int](1024) // the text node's DomArena.ctx
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
    segCtx = java.util.Arrays.copyOf(segCtx, cap)
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

  def addSeg(kind: Int, start: Int, end: Int, ctx: Int, mathRoot: Int): Unit = {
    if (nSegs == segKind.length) growSegs()
    segKind(nSegs) = kind
    segStart(nSegs) = start
    segEnd(nSegs) = end
    segCtx(nSegs) = ctx
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
        if (!dom.within(i, HtmlNames.Skip)) {
          val m = dom.mathRoot(i)
          // formula source selection (MathML): drop non-TeX <annotation>/
          // <annotation-xml> bodies (alternate renderings), and drop the
          // presentation linearization when the <math> carries a TeX source —
          // keeping both would double-emit the formula (the webtext analog of
          // the reference recognizing an equation region ONCE,
          // ppstructure/predict_system.py:171-174)
          val keep =
            if (m < 0) true
            else if (dom.within(i, DomArena.TexAnnotation)) true
            else if (dom.within(i, HtmlNames.AnyAnnotation)) false
            else !dom.is(m, DomArena.MathTex)
          if (keep) {
            val a = dom.blockAnchor(i)
            if (a != curAnchor) { blocks.startBlock(a); curAnchor = a }
            blocks.addSeg(SegKind.Text, dom.tStart(i), dom.tEnd(i), dom.ctx(i), m)
          }
        }
      } else if (dom.is(i, HtmlNames.Br)) {
        if (curAnchor == dom.blockAnchor(i) && curAnchor >= 0 && !dom.within(i, HtmlNames.Skip))
          blocks.addSeg(SegKind.Break, 0, 0, dom.ctx(i), dom.mathRoot(i))
      } else if (dom.is(i, HtmlNames.Block)) {
        // a block element boundary always terminates the running block,
        // even if the next text re-anchors to the same node (e.g. <p>a<div>x</div>b</p>)
        curAnchor = -2
      }
      i += 1
    }
  }
}
