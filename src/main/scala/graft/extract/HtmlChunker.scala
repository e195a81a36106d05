package graft.extract

import graft.dom.DomArena
import graft.htmltok.{HtmlNames, HtmlTokenizer, TokenArena}

/** Safe split-point planner for chunked mega-document extraction — the HTML
  * analog of the reference's recursive strip slicing for extreme inputs
  * (tools/infer/predict_det.py:307-408), with the seam-correctness problem
  * solved structurally instead of by overlap+rollback. The plan reads its
  * seams from the document's own tree (`DomArena.build`, the one tree
  * builder the kernel runs): a split is allowed only
  *
  *  - immediately BEFORE a block-level element's start tag (the running text
  *    block terminates there in the single-pass segmenter too, so no block
  *    can span a seam), and
  *  - when every DOM ancestor of that element is a plain `<html>`/`<body>`
  *    (`HtmlNames.Frame`; no class/id hints, no boilerplate/link/pre
  *    ancestry, no open table or list) — so a fragment prefixed with those
  *    ancestors as bare tags reproduces the exact ancestry facts of the
  *    original position.
  *
  * Whatever the element implicitly closes (a top-level `<p>`, `<li>` or
  * `<head>`) ends exactly where the fragment before the seam ends, so such
  * seams are safe too. ChunkedExtractSpec proves byte-identity against the
  * single-pass kernel over every golden fixture and generated soups.
  */
object HtmlChunker {

  /** One planned chunk: [start, end) byte range of the original payload plus
    * the synthetic context prefix to prepend before extraction. */
  final case class Chunk(start: Int, end: Int, prefix: String)

  /** Plan chunk boundaries. Returns a single full-range chunk when the
    * document yields no safe split (deep soup, hinted containers, too small).
    */
  def plan(input: Array[Byte], minChunkBytes: Int, maxChunks: Int = 512): Vector[Chunk] = {
    if (input.length < 2 * minChunkBytes) return Vector(Chunk(0, input.length, ""))
    val toks = new TokenArena()
    HtmlTokenizer.tokenize(input, toks)
    val dom = new DomArena().build(toks)
    // plain(n): n and every ancestor of n are flag-free html/body elements
    val plain = new Array[Boolean](dom.nNodes)
    val out = Vector.newBuilder[Chunk]
    var nChunks = 0
    var chunkStart = 0
    var pendingPrefix = ""
    var n = 0
    while (n < dom.nNodes && nChunks < maxChunks - 1) {
      if (!dom.isText(n)) {
        val p = dom.parent(n)
        val underPlain = p < 0 || plain(p)
        plain(n) = underPlain && dom.flags(n) == 0 && dom.is(n, HtmlNames.Frame)
        val at = dom.tStart(n)
        if (underPlain && dom.is(n, HtmlNames.Block) && at - chunkStart >= minChunkBytes) {
          out += Chunk(chunkStart, at, pendingPrefix)
          nChunks += 1
          chunkStart = at
          pendingPrefix = ancestorTags(dom, n)
        }
      }
      n += 1
    }
    out += Chunk(chunkStart, input.length, pendingPrefix)
    out.result()
  }

  /** `node`'s ancestors, root first, as bare start tags. */
  private def ancestorTags(dom: DomArena, node: Int): String = {
    var names = List.empty[String]
    var a = dom.parent(node)
    while (a >= 0) { names = dom.name(a) :: names; a = dom.parent(a) }
    names.map(nm => s"<$nm>").mkString
  }
}
