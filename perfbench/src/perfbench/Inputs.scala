package perfbench

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.corpus.{Corpus, RealPdfGen}
import graft.htmltok.Charsets
import graft.model.PageRow
import graft.pipeline.{ExtractPipeline, PipelineConf}
import graft.pdf.{PdfBranch, RealPdf}

/** One generated document: the row the program sees, the text the program
  * must produce (authored from construction, never by running the
  * extractor) and the payload class it belongs to. */
final case class GoldenDoc(url: String, expected: String, cls: String)

/** Seeded input generators. Every input is a pure function of (seed, index),
  * so a run regenerates the same rows for the same seed on any host. */
object Inputs {

  /** Payload classes, in report order. */
  val classes: Seq[String] =
    Seq("html_raw", "html_transcode", "pdf_mini", "pdf_real", "mega_html", "mega_pdf")

  /** `megaBytes` of the production pipeline: payloads at or above it are
    * routed to the mega buckets. */
  val pipelineConf: PipelineConf = PipelineConf()
  val megaBytes: Int = pipelineConf.megaBytes
  /** `maxHtmlBytes` of the extractor: payloads above it are truncated, so
    * planted documents stay below it to keep their golden text whole. */
  val maxBytes: Int = graft.extract.ExtractConfig().maxHtmlBytes

  /** The payload class of a raw page, by the same tests the extractor uses
    * to pick its branch (PDF magic, real-PDF header, charset transcode). */
  def classOf(html: Array[Byte]): String = {
    val mega = html != null && html.length >= megaBytes
    if (PdfBranch.isPdf(html)) {
      if (mega) "mega_pdf" else if (RealPdf.isReal(html)) "pdf_real" else "pdf_mini"
    } else if (mega) "mega_html"
    else if (html == null || html.isEmpty) "html_raw"
    else {
      val (cs, _) = Charsets.sniff(html)
      val rawOk = Charsets.rawByteSafe(cs) &&
        !(Charsets.rawByteHazardCdata(cs) && Charsets.containsCdata(html))
      if (rawOk) "html_raw" else "html_transcode"
    }
  }

  /** Golden-corpus page `i` (the 16-category generator of the test suite). */
  def corpusPage(seed: Long, i: Int): (PageRow, GoldenDoc) = {
    val g = Corpus.page(seed, i)
    (g.row, GoldenDoc(g.row.url, g.expectedText, classOf(g.row.html)))
  }

  // ---- planted mega documents -------------------------------------------

  private def mix(seed: Long, k: Long): Long = {
    var z = seed * 0x9e3779b97f4a7c15L + k * 0xc2b2ae3d27d4eb4fL
    z = (z ^ (z >>> 31)) * 0xbf58476d1ce4e5b9L
    z ^ (z >>> 29)
  }

  /** Target payload size of planted document `k` of `n` of its kind: an
    * even ladder over [megaBytes + 5%, megaBytes × `upto`], so every one
    * takes the mega path and none comes near maxHtmlBytes truncation. The
    * seed moves each size by at most 1%: the slowest document sets the job
    * time, so its size must not swing with the seed. */
  private def megaTarget(r: Corpus.Rng, k: Int, n: Int, upto: Double): Int = {
    val lo = megaBytes * 1.05
    val hi = megaBytes * upto
    val jitter = 1.0 + (r.nextInt(2001) - 1000) / 100000.0
    (math.min(hi, (lo + (hi - lo) * (k + 0.5) / n) * jitter)).toInt
  }

  /** A long sectioned HTML article of about `target` bytes (the F08 shape,
    * scaled past the mega threshold). Paragraphs run 12-16 sentences so the
    * article stays under the extractor's maxBlocksPerDoc output cap, which
    * would otherwise cut its text by design. */
  private def megaHtml(seed: Long, k: Int, n: Int, url: String): (PageRow, GoldenDoc) = {
    val r = new Corpus.Rng(mix(seed, 1000L + k))
    val target = megaTarget(r, k, n, 2.5)
    val body = new java.lang.StringBuilder(target + 4096)
    val expected = new java.lang.StringBuilder(target)
    var i = 0
    val head = "<html><head><title>ignored head title</title></head><body>"
    val tail = "</body></html>"
    while (head.length + body.length + tail.length < target) {
      val h = s"Section ${i + 1} ${Corpus.sentence(r).takeWhile(_ != ' ')}"
      val ps = (0 until 3).map(_ =>
        (0 until 12 + r.nextInt(5)).map(_ => Corpus.sentence(r)).mkString(" "))
      body.append("<section><h2>").append(h).append("</h2>")
      ps.foreach(p => body.append("<p>").append(p).append("</p>"))
      body.append("</section>")
      if (i > 0) expected.append("\n\n")
      expected.append(h)
      ps.foreach(p => expected.append("\n\n").append(p))
      i += 1
    }
    val html = (head + body + tail).getBytes(StandardCharsets.UTF_8)
    val row = PageRow(url, new Timestamp(1577836800000L + k * 60000L), html, null, "en")
    (row, GoldenDoc(url, expected.toString, classOf(html)))
  }

  /** The PDF writer shapes planted documents cycle through. */
  private val pdfShapes: Seq[(String, Seq[RealPdfGen.PageSpec] => Array[Byte], Boolean)] = Seq(
    ("flate", RealPdfGen.build, true),
    ("objstm", RealPdfGen.buildObjStm, true),
    ("lzw", RealPdfGen.buildLzw, true),
    ("raw", RealPdfGen.build, false))

  /** One page of single-column paragraphs placed top-down; returns the page
    * and its expected text (the paragraphs in reading order). */
  private def pdfPage(r: Corpus.Rng, compress: Boolean): (RealPdfGen.PageSpec, Seq[String]) = {
    var y = 60
    val ps = Vector.newBuilder[String]
    val placed = Vector.newBuilder[RealPdfGen.Placed]
    var more = true
    while (more) {
      val p = (0 until 2).map(_ => Corpus.sentence(r)).mkString(" ")
      val lines = RealPdfGen.wrap(p, 70)
      if (y + lines.length * 14 > 1140) more = false
      else {
        placed += RealPdfGen.Placed(50, y, 12, lines)
        ps += p
        y += lines.length * 14 + 40
      }
    }
    (RealPdfGen.PageSpec(800, 1200, placed.result(), compress), ps.result())
  }

  /** A multi-page real PDF of about `target` bytes. The page count is
    * sized from a probe build, so every writer shape lands past the mega
    * threshold whatever its compression ratio. */
  private def megaPdf(seed: Long, k: Int, n: Int, url: String): (PageRow, GoldenDoc) = {
    // PDFs stay under 1.6 MiB: their generation is the slowest part of set-up
    val r = new Corpus.Rng(mix(seed, 2000L + k))
    val target = megaTarget(r, k, n, 1.6)
    val (_, build, compress) = pdfShapes(k % pdfShapes.length)
    // size a 16-page probe build, then build once at the estimated page
    // count; top up or trim by 10% steps until the size is in range
    val probe = Vector.fill(16)(pdfPage(r, compress))
    val perPage = build(probe.map(_._1)).length / 16.0
    var all = probe ++ Vector.fill(math.max(0, (target / perPage).toInt - 16))(pdfPage(r, compress))
    var bytes = build(all.map(_._1))
    while (bytes.length < megaBytes * 1.02) {
      all = all ++ Vector.fill(all.length / 10 + 1)(pdfPage(r, compress))
      bytes = build(all.map(_._1))
    }
    while (bytes.length >= maxBytes * 0.95) {
      all = all.take(all.length * 9 / 10)
      bytes = build(all.map(_._1))
    }
    val expected = all.map(_._2.mkString("\n\n")).filter(_.nonEmpty).mkString("\n\n")
    val row = PageRow(url, new Timestamp(1577836800000L + k * 60000L), bytes, null, "en")
    (row, GoldenDoc(url, expected, classOf(bytes)))
  }

  /** The url of planted document `k`: the first `mega/<name>/<v>` that the
    * pipeline routes to mega bucket k mod megaBuckets, so up to megaBuckets
    * planted documents fill distinct mega buckets. */
  def megaUrl(name: String, k: Int): String = {
    val want = pipelineConf.numBuckets + k % pipelineConf.megaBuckets
    Iterator.from(0).map(v => s"https://example.org/mega/$name/$v")
      .find(ExtractPipeline.bucketOf(_, megaBytes, pipelineConf) == want).get
  }

  /** Planted mega document `k` of `n`: even k are long HTML, odd k PDFs. */
  def megaDoc(seed: Long, k: Int, n: Int): (PageRow, GoldenDoc) = {
    val perKind = (n + 1) / 2
    if (k % 2 == 0) megaHtml(seed, k / 2, perKind, megaUrl(s"html${k / 2}", k))
    else megaPdf(seed, k / 2, perKind, megaUrl(s"pdf${k / 2}", k))
  }

  /** Writes `pages` (PageRow rows) and `golden` (url, expected, cls) parquet
    * tables for corpus pages [0, n) plus `mega` planted documents. Returns
    * (generate s, write s): rows are generated into memory first, then
    * written, so the two costs are timed apart. */
  def writeCorpus(spark: SparkSession, seed: Long, n: Int, mega: Int,
                  pagesDir: String, goldenDir: String, partitions: Int): (Double, Double) = {
    import spark.implicits._
    val generated = spark.range(0, n, 1, partitions).as[Long]
      .mapPartitions(_.map(i => corpusPage(seed, i.toInt)))
    val planted = spark.createDataset(0 until mega).repartition(math.max(1, mega))
      .map(k => megaDoc(seed, k, mega))
    val all = generated.union(planted).cache()
    try {
      val t0 = System.nanoTime()
      all.count()
      val t1 = System.nanoTime()
      all.map(_._1).write.mode("overwrite").parquet(pagesDir)
      all.map(_._2).write.mode("overwrite").parquet(goldenDir)
      ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    } finally all.unpersist(blocking = true)
  }

  // ---- index tables (documents / embeddings / events) -------------------

  /** The documents vocabulary: single-space ASCII tokens of at most 8 bytes
    * (the SQL oracle of d10 unrolls XXH64's short path and relies on it). */
  private val vocab: IndexedSeq[String] = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val langs = Vector("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  private def baseText(seed: Long, i: Long): String = {
    val r = new Corpus.Rng(mix(seed, 10000000L + i))
    val k = 10 + r.nextInt(91)
    (0 until k).map(_ => r.pick(vocab)).mkString(" ")
  }

  /** documents row `i` of `n`: every 20th row is a near-duplicate (another
    * doc's text plus " dup"), so the dedup queries find pairs; two
    * near-duplicates of one doc make an exact copy, as in the suite's tables. */
  def document(seed: Long, n: Long, i: Long): (Long, String, String, String, Long) = {
    val r = new Corpus.Rng(mix(seed, 20000000L + i))
    val text =
      if (i % 20 == 19) baseText(seed, r.nextInt(n.toInt).toLong) + " dup"
      else baseText(seed, i)
    (i, text, r.pick(langs), s"src${i % 20}", text.length.toLong)
  }

  /** embeddings row `i`: a unit-norm 64-d float vector and a label in 0..9. */
  def embedding(seed: Long, i: Long): (Long, Array[Float], Int) = {
    val r = new Corpus.Rng(mix(seed, 30000000L + i))
    def unif(): Double = ((r.nextLong() >>> 11) + 1).toDouble / (1L << 53).toDouble
    val v = Array.fill(64) {
      math.sqrt(-2.0 * math.log(unif())) * math.cos(2.0 * math.Pi * unif())
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    (i, v.map(x => (x / norm).toFloat), r.nextInt(10))
  }

  private val eventTypes = Vector("view", "click", "signup", "purchase", "error")
  private val eventStart = 1704067200000L // 2024-01-01T00:00:00Z
  private val eventSpanMs = 30L * 24 * 3600 * 1000

  /** events row `i` of `n`: timestamps rise with the id over 30 days. */
  def event(seed: Long, n: Long, users: Int, i: Long): (Long, Timestamp, Long, String, Double, String) = {
    val r = new Corpus.Rng(mix(seed, 40000000L + i))
    val slot = eventSpanMs / n
    val ts = new Timestamp(eventStart + i * slot + r.nextInt(slot.toInt.max(1)))
    val value = math.round(-math.log(((r.nextLong() >>> 11) + 1).toDouble / (1L << 53)) * 50 * 100) / 100.0
    (i, ts, r.nextInt(users).toLong, r.pick(eventTypes), value, s"""{"k": ${r.nextInt(100)}}""")
  }

  /** Writes documents.parquet, embeddings.parquet and events.parquet under
    * `dir` with the column names the query list reads. Returns
    * (generate s, write s). */
  def writeIndexTables(spark: SparkSession, seed: Long, nDocs: Int, nEmb: Int,
                       nEvents: Int, dir: String, partitions: Int): (Double, Double) = {
    import spark.implicits._
    def ids(n: Int) = spark.range(0, n, 1, partitions).as[Long]
    val users = math.max(50, nEvents * 3 / 200)
    val tables: Seq[(String, DataFrame)] = Seq(
      "documents" -> ids(nDocs).map(i => document(seed, nDocs, i))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> ids(nEmb).map(i => embedding(seed, i))
        .toDF("vec_id", "embedding", "label"),
      "events" -> ids(nEvents).map(i => event(seed, nEvents, users, i))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .map { case (k, df) => k -> df.cache() }
    try {
      val t0 = System.nanoTime()
      tables.foreach(_._2.count())
      val t1 = System.nanoTime()
      tables.foreach { case (k, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$k.parquet")
      }
      ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    } finally tables.foreach(_._2.unpersist(blocking = true))
  }
}
