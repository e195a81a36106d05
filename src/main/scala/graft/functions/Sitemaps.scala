package graft.functions

import java.nio.charset.StandardCharsets

import graft.htmltok.{HtmlTokenizer, Tok, TokenArena}

/** sitemaps.org XML ingestion (the sitemaps.org/protocol.html public spec) —
  * the crawl DISCOVERY side that complements the robots.txt politeness gate:
  * `<urlset><url><loc>…` entries feed the frontier, `<sitemapindex>
  * <sitemap><loc>…` entries point at further sitemap shards. Runs on the
  * SAME byte-stream tokenizer as HTML extraction (XML declarations fall out
  * as inert text tokens; `<![CDATA[…]]>`-wrapped locs arrive as dedicated
  * CDATA tokens and are taken verbatim, while plain text locs are
  * entity-decoded per XML). Row-local — one sitemap document in, its
  * entries out; the frontier build around it is ordinary relational
  * composition (x26).
  */
object Sitemaps {

  /** One sitemap entry: `index = true` when it came from a
    * `<sitemapindex><sitemap>` element (a pointer to another sitemap shard,
    * not a page URL). `lastmod` is the raw spec string (W3C datetime), null
    * when absent. */
  final case class Entry(loc: String, lastmod: String, index: Boolean)

  def parse(xml: Array[Byte], arena: TokenArena): Vector[Entry] = {
    arena.reset()
    HtmlTokenizer.tokenize(xml, arena)
    val out = Vector.newBuilder[Entry]
    var inEntry = false    // inside <url> or <sitemap>
    var entryIsIndex = false
    val loc = new java.lang.StringBuilder()
    val lastmod = new java.lang.StringBuilder()
    var capture: Int = 0   // 0 = none, 1 = loc, 2 = lastmod
    var t = 0
    while (t < arena.size) {
      val k = arena.kinds(t)
      if (k == Tok.Start) {
        arena.tagName(arena.tagIds(t)) match {
          case "url"     => inEntry = true; entryIsIndex = false; loc.setLength(0); lastmod.setLength(0)
          case "sitemap" => inEntry = true; entryIsIndex = true; loc.setLength(0); lastmod.setLength(0)
          case "loc"     if inEntry => capture = 1
          case "lastmod" if inEntry => capture = 2
          case _ =>
        }
      } else if (k == Tok.End) {
        arena.tagName(arena.tagIds(t)) match {
          case "loc" | "lastmod" => capture = 0
          case "url" | "sitemap" =>
            if (inEntry && loc.toString.trim.nonEmpty) {
              val lm = lastmod.toString.trim
              out += Entry(loc.toString.trim, if (lm.isEmpty) null else lm,
                entryIsIndex)
            }
            inEntry = false
          case _ =>
        }
      } else if (capture != 0 && (k == Tok.Text || k == Tok.Cdata)) {
        // XML character data of one element may legally arrive as several
        // text/CDATA fragments — CONCATENATE them (a first-wins would
        // silently truncate a loc split around a CDATA section); the joined
        // value is trimmed once at entry emit
        val v =
          if (k == Tok.Cdata) {
            // <![CDATA[ … ]]> — verbatim payload, no entity decode (XML)
            val s = arena.starts(t) + 9
            val e = arena.ends(t) - 3
            if (e > s) new String(xml, s, e - s, StandardCharsets.UTF_8) else ""
          } else {
            val raw = new String(xml, arena.starts(t),
              arena.ends(t) - arena.starts(t), StandardCharsets.UTF_8)
            graft.extract.Entities.decode(raw)
          }
        if (capture == 1) loc.append(v) else lastmod.append(v)
      }
      t += 1
    }
    out.result()
  }
}
