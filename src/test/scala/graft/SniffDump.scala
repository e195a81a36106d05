package graft

import java.nio.charset.StandardCharsets

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.corpus.Corpus
import graft.htmltok.Charsets

/** Dumps `Charsets.sniff` results, one record per input, so two builds of the
  * charset prescan can be compared record by record:
  *
  * {{{
  * sbt "Test/runMain graft.SniffDump <out> [trialsPerKind=300]"
  * }}}
  *
  * The inputs are the 160 golden pages (`Corpus.pages(42, 160)`),
  * ChunkedExtractSpec's soups at seeds 0-99 and seeded head mutations (seed
  * 13), `trialsPerKind` of each kind in `kinds`: comment forms, rawtext and
  * CDATA wrappers, tag-name suffixes, duplicate attributes, `<meta>` text in
  * another tag's attribute value, attribute-value spellings, and the real
  * `<meta>` placed across the 1,024-byte prescan window. Each mutation
  * record names its kind and variant, so a difference groups by cause.
  * Records are `=== <what>` lines, each followed by `<charset> <bom>`.
  */
object SniffDump {
  val kinds: Seq[String] =
    Seq("comment", "rawtext", "suffix", "dupattr", "inattr", "value", "boundary")

  private val labels = Seq("windows-1251", "koi8-r", "shift_jis", "iso-8859-2",
    "gbk", "euc-kr", "windows-1250", "utf-16", "big5")

  private def show(b: Array[Byte]): String = {
    val (cs, bom) = Charsets.sniff(b)
    s"${cs.name()} $bom"
  }

  /** The ways a page can declare `label` in a real `<meta>`. */
  private def metaForms(label: String): IndexedSeq[String] = IndexedSeq(
    s"""<meta charset="$label">""",
    s"<meta charset=$label>",
    s"<meta charset='$label'/>",
    s"""<META CHARSET="$label">""",
    s"""<meta http-equiv="Content-Type" content="text/html; charset=$label">""",
    s"<meta content='text/html;charset=$label' http-equiv=content-type>")

  private val headParts = IndexedSeq("<!doctype html>", "<html lang=en>", "<head>",
    "<title>Page title</title>", """<link rel="stylesheet" href="/s.css">""",
    """<script src="/a.js"></script>""",
    """<meta name="viewport" content="width=device-width">""", "<base href=\"/\">",
    "<!-- build 42 -->", "<style>p { margin: 0 }</style>")

  /** One mutated head: `(variant, bytes)` for mutation `kind`. */
  private def mutate(kind: String, rng: java.util.Random): (String, Array[Byte]) = {
    def pick[A](xs: IndexedSeq[A]): A = xs(rng.nextInt(xs.length))
    val label = pick(labels.toIndexedSeq)
    val decoy = pick(labels.filter(_ != label).toIndexedSeq)
    val real = pick(metaForms(label))
    val before = (0 until rng.nextInt(4)).map(_ => pick(headParts)).mkString
    val (variant, head) = kind match {
      case "comment" =>
        val forms = IndexedSeq("<!---->", "<!-->", "<!--->", "<!-- note -->",
          s"<!--<meta charset=$decoy>-->", s"<!--[if IE]><meta charset=$decoy><![endif]-->",
          s"<!--><meta charset=$decoy>", s"<!---><meta charset=$decoy>", "<!-- a -- b -->",
          s"<!--- <meta charset=$decoy> --->")
        val v = rng.nextInt(forms.length)
        (s"form$v", before + forms(v) + real)
      case "rawtext" =>
        val fake = pick(metaForms(decoy))
        val forms = IndexedSeq(s"<script>var s='$fake'</script>", s"<style>/* $fake */</style>",
          s"<title>$fake</title>", s"<textarea>$fake</textarea>", s"<![CDATA[$fake]]>",
          s"<noscript>$fake</noscript>", s"<script>document.write(\"x\")</script>$fake")
        val v = rng.nextInt(forms.length)
        (s"form$v", before + forms(v) + real)
      case "suffix" =>
        val suffixes = IndexedSeq("data", "-x", "1", "_x", ":x", "a", "/")
        val v = rng.nextInt(suffixes.length)
        val fake = s"""<meta${suffixes(v)} charset="$decoy">"""
        if (rng.nextBoolean()) (s"decoy$v", before + fake + real)
        else (s"real$v", before + real.replaceFirst("(?i)<meta", s"<meta${suffixes(v)}"))
      case "dupattr" =>
        val forms = IndexedSeq(
          s"""<meta charset="$label" charset="$decoy">""",
          s"""<meta http-equiv="content-type" http-equiv="refresh" content="text/html; charset=$label">""",
          s"""<meta http-equiv="refresh" http-equiv="content-type" content="text/html; charset=$label">""",
          s"""<meta http-equiv="content-type" content="text/html; charset=$label" content="text/html; charset=$decoy">""",
          s"""<meta content="text/html; charset=$label" charset="$decoy">""",
          s"""<meta charset="" charset="$decoy" http-equiv=content-type content="charset=$label">""")
        val v = rng.nextInt(forms.length)
        (s"form$v", before + forms(v))
      case "inattr" =>
        val forms = IndexedSeq(s"""<link title="<meta charset=$decoy>">""",
          s"<a title='<meta charset=$decoy>' href=/x>", s"""<img alt="a<meta charset=$decoy>b">""",
          s"""<meta name="x" content="<meta charset=$decoy>">""",
          s"""<meta name="description" content="use charset=$decoy here">""")
        val v = rng.nextInt(forms.length)
        (s"form$v", before + forms(v) + real)
      case "value" =>
        val forms = IndexedSeq(s"""<meta charset=" $label ">""", s"""<meta charset="\t$label\n">""",
          s"""<meta charset="${label.replace("-", "&#45;")}">""",
          s"""<meta charset="${label.toUpperCase}">""",
          s"""<meta http-equiv="CONTENT-TYPE" content="text/html; CHARSET=$label">""",
          s"""<meta http-equiv=" content-type " content="text/html; charset='$label'">""",
          s"""<meta http-equiv="content-type" content="text/html; charset=${label.replace("-", "&#x2d;")}">""",
          s"""<meta charset="">$real""", s"<meta charset = $label>", s"<meta charset=$label/>")
        val v = rng.nextInt(forms.length)
        (s"form$v", before + forms(v))
      case "boundary" =>
        // the real meta starts up to its length (plus 8) before byte 1,024
        val back = 1 + rng.nextInt(real.length + 8)
        val pad = math.max(0, 1024 - back - before.length - 6)
        (s"back$back", before + "<head>" + " " * pad + real)
    }
    val page = s"$head</head><body><p>Текст words</p></body></html>"
    (variant, page.getBytes(StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val out = new java.io.PrintWriter(args(0), "UTF-8")
    val trials = if (args.length > 1) args(1).toInt else 300
    try {
      for ((g, i) <- Corpus.pages(42L, 160).zipWithIndex)
        out.println(s"=== golden $i ${g.row.url}\n${show(g.row.html)}")
      for (seed <- 0 until 100) {
        val soup = ChunkedExtractSpec.soup.pureApply(Gen.Parameters.default, Seed(seed.toLong))
        out.println(s"=== soup $seed\n${show(soup.getBytes(StandardCharsets.UTF_8))}")
      }
      val rng = new java.util.Random(13L)
      for (kind <- kinds; trial <- 0 until trials) {
        val (variant, bytes) = mutate(kind, rng)
        out.println(s"=== mut $kind $trial $variant\n${show(bytes)}")
      }
    } finally out.close()
  }
}
