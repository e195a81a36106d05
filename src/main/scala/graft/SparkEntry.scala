package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.expressions.GraftExpressions
import graft.functions.{DedupFunctions, DomainFunctions, GraphFunctions, MultimodalFunctions, RobotsFunctions, SimilarityFunctions, TextFunctions}
import graft.pipeline.{CorpusSource, Extract, ExtractPipeline, PipelineConf}

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * Query naming: `x*` = extraction-engine queries over the synthesized
  * Common-Crawl-style pages corpus (north rule; no SQL oracle — verified
  * byte-exactly by the sbt golden suite instead); `q*` = relational recasts of
  * SURVEY.md §2 operators over the driver's parquet tables (DuckDB oracle);
  * `d*` = training-data ops over `documents`; `e*` = similarity ops over
  * `embeddings`. Every oracle-checked query ends in a deterministic ORDER BY
  * and uses only BIGINT/DOUBLE/STRING/BOOLEAN/TIMESTAMP outputs; order-
  * sensitive float sums go through DECIMAL so both engines agree bit-for-bit.
  */
object SparkEntry {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  /** d17 data-mixture keep rates — the Spark query and the DuckDB oracle
    * both derive from THIS map (thresholds via TextFunctions.hexThreshold),
    * so the two sides can never drift. Unlisted languages keep everything. */
  private val mixtureRates: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.8)
  /** One WHEN branch of the oracle's mixture CASE — mirrors mixtureSample's
    * rate-boundary short-circuits (≥1.0 → TRUE, ≤0.0 → FALSE) so the Spark
    * query and the DuckDB oracle cannot drift at the boundaries either. */
  private def mixtureCaseSql(lang: String, r: Double): String =
    if (r >= 1.0) s"WHEN lang = '$lang' THEN TRUE"
    else if (r <= 0.0) s"WHEN lang = '$lang' THEN FALSE"
    else s"WHEN lang = '$lang' THEN substr(md5('mix:' || doc_id), 1, 8) < '${TextFunctions.hexThreshold(r)}'"
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
  private def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
  private def orders(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet")

  /** Shared x26/x31 discovery walk: distributed sitemap parse (same
    * tokenizer, arena reuse per partition; urlset vs sitemapindex, CDATA
    * locs, entity decode), url canonicalization, then the RFC 9309 robots
    * gate — ONE definition so the two surfaces cannot diverge. One row per
    * sitemap entry: (sitemap_url, loc, lastmod, is_index, allowed, host).
    * Zero shuffle — row-local until the caller's own presentation step. */
  private def frontierEntries(s: SparkSession): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(CorpusSource.frontierRuleMap)
    CorpusSource.sitemapPages(s, 40).mapPartitions { it =>
      val arena = new graft.htmltok.TokenArena()
      it.flatMap { p =>
        graft.functions.Sitemaps.parse(p.html, arena).map { e =>
          val canon = graft.expressions.UrlKernel.canonical(e.loc)
          val host = graft.expressions.UrlKernel.host(canon)
          val allowed = graft.functions.Robots.decide(
            graft.expressions.UrlKernel.path(canon),
            bc.value.getOrElse(host, Vector.empty))
          (p.url, canon, e.lastmod, e.index, allowed, host)
        }
      }
    }.toDF("sitemap_url", "loc", "lastmod", "is_index", "allowed", "host")
  }

  /** One named query: its Spark side, its DuckDB oracle (the SQL whose
    * result the Spark output must equal) when it has one, and whether
    * [[Bench]] times it. The name's first letter is its family (see the
    * object doc above). */
  final case class Query(name: String, run: (SparkSession, String) => DataFrame,
                         oracle: Option[String] = None, benched: Boolean = true)

  /** Builds a registry, rejecting duplicate names (a Map literal would
    * silently keep the last one). */
  def registryOf(qs: Query*): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** Every query, each oracle beside its Spark side. */
  val registry: Seq[Query] = registryOf(
    // ================= extraction engine (pages corpus; golden-tested) =====
    Query("x01_extract", (s, _) =>
      Extract.run(CorpusSource.pages(s, 280)).toDF()
        .select(col("url"), col("text"), col("nSpans").as("n_spans"),
          col("charset"), col("truncated"))),
    Query("x02_extract_spans", (s, _) =>
      Extract.run(CorpusSource.pages(s, 280)).toDF()
        .select(col("url"), explode(col("spans")).as("s"))
        .select(col("url"), col("s.blockIdx").as("block_idx"),
          col("s.tagPath").as("tag_path"), col("s.start"), col("s.end"),
          col("s.label"), col("s.text"))),
    // SQL surface: the extraction kernel as a registered Catalyst expression
    Query("x03_extract_sql", (s, _) => {
      GraftExpressions.register(s)
      CorpusSource.pages(s, 140).createOrReplaceTempView("graft_pages")
      s.sql("""SELECT url, graft_extract_text(html) AS text,
              |       graft_token_count(graft_extract_text(html)) AS n_tokens
              |FROM graft_pages ORDER BY url""".stripMargin)
    }),
    // checkpoint/resume pipeline: lineage table (north rule)
    Query("x04_pipeline_lineage", (s, _) => {
      // a fresh directory per call: two runs on one host must not delete
      // each other's output (the same recursive exit-time delete as x16)
      val dir = java.nio.file.Files.createTempDirectory("graft_verify_pipeline").toFile
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(dir): Unit))
      val out = dir.getAbsolutePath
      ExtractPipeline.run(s, CorpusSource.pages(s, 280), out,
        PipelineConf(numBuckets = 16, megaBuckets = 2))
      ExtractPipeline.lineage(s, out)
        .select(col("bucket"), col("status"), col("docs"), col("bytes"),
          col("emptyDocs"), col("truncatedDocs"), col("unparsedDocs"))
        .orderBy("bucket")
    }),
    // multimodal: binary payload metadata + decoded features — decodable
    // image rows (half the PNG/JPEG/GIF/BMP fixtures are real ImageIO
    // images) get REAL pixel statistics (channel means/std/entropy,
    // decoded=true); header-only fixtures keep real header-parse dims with
    // the labeled digest fallback. The raw array<float> feature stays in
    // the library API (mediaMeta); the query surface projects it to a
    // scalar because the driver's pandas sort cannot hash ndarray cells
    // (CORRECTNESS_r01 x05 harness error).
    Query("x05_multimodal_meta", (s, _) =>
      MultimodalFunctions.mediaMeta(
          CorpusSource.pages(s, 280).union(CorpusSource.mediaPages(s, 48)))
        .withColumn("feature_sum",
          round(aggregate(col("feature"), lit(0.0d), (acc, x) => acc + x.cast("double")), 4))
        .drop("feature")
        .orderBy("url")),
    // audio: REAL JDK javax.sound WAV decode over authored PCM fixtures —
    // format metadata + signal stats (RMS/peak/zcr, the silence/clipping
    // quality screens); truncated/non-audio payloads take the labeled
    // decoded=false fallback. Row-local, rows-only driver check (stats are
    // spec-pinned against from-construction values in MultimodalSpec).
    Query("x32_audio_meta", (s, _) =>
      MultimodalFunctions.audioMeta(
          CorpusSource.audioPages(s, 64).union(CorpusSource.pages(s, 32)))
        .orderBy("url")),
    // formula branch: MathML → TeX-source regions (the reference's
    // `equation` layout label + LaTeX recognizer grafted:
    // ppstructure/predict_system.py:171-174). Row per formula span — raw
    // source in `latex`, the assembled document text alongside shows the
    // `$…$`/`$$…$$` render (recovery_to_markdown.py:170-171). Rows-only
    // driver check; per-shape semantics are FormulaSpec-pinned.
    Query("x33_formula_regions", (s, _) =>
      Extract.run(CorpusSource.mathPages(s, 96)).toDF()
        .select(col("url"), col("text"), explode(col("spans")).as("sp"))
        .filter(col("sp.label") === "formula")
        .select(col("url"), col("sp.blockIdx").as("block_idx"),
          col("sp.tagPath").as("tag_path"), col("sp.text").as("latex"),
          col("text").as("doc_text"))
        .orderBy("url", "block_idx")),
    // video: REAL frame decode over authored fixtures — Y4M (raw YUV4MPEG2,
    // pure bytes) and Motion-JPEG AVI (RIFF walk + per-frame ImageIO JPEG
    // decode), ≤8 frames sampled evenly per stream, per-frame luma
    // mean/stddev + inter-sample motion (black-frame / flat-frame /
    // static-scene quality screens). Truncated streams keep complete
    // leading frames; non-video payloads take the labeled decoded=false
    // fallback row. Row-local, rows-only driver check (Y4M stats are
    // closed-form from construction; VideoSpec pins them exactly).
    Query("x34_video_frames", (s, _) =>
      MultimodalFunctions.videoFrames(
          CorpusSource.videoPages(s, 64).union(CorpusSource.pages(s, 16)))
        .orderBy("url", "frame_idx")),
    // HTML mega-doc chunked extraction (skew handling; seam-exactness proven
    // in ChunkedExtractSpec — byte-identical text and spans vs single pass)
    Query("x09_chunked_extract", (s, _) =>
      graft.pipeline.ChunkedExtract.run(CorpusSource.pages(s, 160),
          chunkThreshold = 0, minChunkBytes = 2048).toDF()
        .select(col("url"), col("text"), col("nSpans").as("n_spans"))
        .orderBy("url")),
    // PDF mega-doc page-explode path: the same splitter over the corpus's
    // PDF rows (skew handling; identity with the single pass proven in
    // PdfPagedSpec)
    Query("x07_pdf_paged", (s, _) =>
      graft.pipeline.ChunkedExtract.run(
          CorpusSource.pages(s, 280).filter(p => graft.pdf.PdfBranch.isPdf(p.html)),
          chunkThreshold = 0).toDF()
        .select("url", "text", "status", "truncated")
        .orderBy("url")),
    // word-level offsets over EXTRACTION output (cal_ocr_word_box applied to
    // extracted text; rows-only check — corpus-synthesized input). The spans
    // tile the text exactly (property-tested in DedupSimilaritySpec).
    Query("x10_extract_word_spans", (s, _) =>
      TextFunctions.wordSpans(
        Extract.run(CorpusSource.pages(s, 140)).toDF()
          .filter(length(col("text")) > 0)
          .select(col("url").as("doc_id"), col("text")))),
    // end-to-end training-data pipeline COMPOSITION: extract → quality gate →
    // exact dedup (keep min id per digest) → near-dup removal (Jaccard ≥ 0.9
    // over LSH candidates, drop the higher id) — the library ops chained the
    // way a corpus-construction job would chain them. The F14 fixture
    // category plants exact duplicates of F01 content, so the dedup stages
    // provably remove rows. Rows-only check (corpus-synthesized input).
    Query("x13_training_pipeline", (s, _) => {
      // localCheckpoint = the in-query stand-in for "extraction wrote its
      // table first": every dedup stage below references `docs` several
      // times (self-joins + anti-join), and without materialization each
      // reference re-runs the extraction kernel (measured 160s vs ~4s)
      val docs = Extract.run(CorpusSource.pages(s, 280)).toDF()
        .filter(length(col("text")) > 0)
        .select(col("url").as("doc_id"), col("text"))
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .filter(col("n_tokens") >= 5) // quality gate
        .localCheckpoint()
      val w = Window.partitionBy(md5(col("text").cast("binary")))
        .orderBy(col("doc_id"))
      val exactDeduped = docs.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      val nearDups = DedupFunctions.jaccardPairs(exactDeduped, 0.9)
        .select(col("doc_b").as("doc_id"))
      exactDeduped.join(nearDups, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),
    // PubTabNet-style jsonl label-file source (PubTabDataSet analog): native
    // json scan → annotation rebuilt as table HTML → the engine's own table
    // assembly. Deterministic label file synthesized in place; expected text
    // is pinned byte-exactly in PubTabSpec (rows-only check here).
    Query("x15_pubtab_labels", (s, _) => {
      // per-run temp file: two concurrent Verify/Bench runs on one host must
      // not race on a shared fixed path (content is deterministic, but a
      // half-written file under a concurrent writer is not)
      val p = java.nio.file.Files.createTempFile("graft_verify_pubtab", ".jsonl")
      p.toFile.deleteOnExit()
      java.nio.file.Files.write(p, graft.corpus.PubTab.sampleJsonl(40).getBytes("UTF-8"))
      graft.corpus.PubTab.tableText(s, p.toString)
    }),
    // WARC/1.0 crawl-segment ingestion (ISO 28500 — the Common-Crawl wire
    // format): a gzipped multi-record segment (warcinfo + request + response
    // per page, per-record gzip members) is parsed by Content-Length framing,
    // non-response records skipped, and the HTTP bodies flow through the SAME
    // extraction kernel as direct page rows — WarcSpec pins byte-identity of
    // both the parsed html and the extracted text against the golden corpus.
    Query("x18_warc_ingest", (s, _) => {
      val p = java.nio.file.Files.createTempFile("graft_verify_warc", ".warc.gz")
      p.toFile.deleteOnExit()
      java.nio.file.Files.write(p, graft.corpus.Warc.sampleFile(42L, 280, gzip = true))
      Extract.run(graft.corpus.Warc.pages(s, p.toString)).toDF()
        .select(col("url"), col("text"), col("nSpans").as("n_spans"),
          col("charset"), col("truncated"))
        .orderBy("url")
    }),
    // CDX index build — the seekable-offset artifact published beside each
    // crawl segment: SURT key + capture ts + body digest + the gzip MEMBER
    // (offset, length) a reader slices to inflate exactly one record
    Query("x28_cdx_index", (s, _) => {
      val p = java.nio.file.Files.createTempFile("graft_verify_cdx", ".warc.gz")
      p.toFile.deleteOnExit()
      java.nio.file.Files.write(p, graft.corpus.Warc.sampleFile(42L, 140, gzip = true))
      graft.corpus.Warc.cdx(s, p.toString).toDF()
        .orderBy("urlkey", "ts", "offset")
    }),
    // WET export — the extracted-text artifact published beside each crawl
    // segment (conversion records, per-record gzip members): WARC-shaped
    // pages in, .warc.wet.gz bytes out in ONE shuffle-free stage, re-parsed
    // here to per-record rows (the artifact must be lossless by read-back)
    Query("x29_wet_export", (s, _) => {
      import s.implicits._
      graft.corpus.Warc.wetExport(CorpusSource.pages(s, 140))
        .flatMap(graft.corpus.Warc.wetRows _).toDF()
        .select(col("url"), col("ts"),
          length(col("text")).cast("long").as("n_chars"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy("url")
    }),
    // URL-level dedup — the FIRST dedup stage of a public crawl pipeline
    // (CDX canonical keys; RefinedWeb's url-normalized dedup before any
    // content pass): each golden-corpus url is exploded into five raw
    // variants (fragment, tracking params, reordered query) that the
    // RFC 3986 canonicalization kernel must collapse back to exactly TWO
    // canonical groups per page (plain, and with the a=1&b=2 payload) —
    // counts are structural, so rows-only + UrlSpec pin the contract.
    // graft_url_canon is codegen'd; dedup is one groupBy on the short key.
    Query("x19_url_dedup", (s, _) => {
      val urls = CorpusSource.pages(s, 280).toDF().select(col("url"))
      val raw = urls.select(explode(array(
        col("url"),
        concat(col("url"), lit("#frag")),
        concat(col("url"), lit("?utm_source=feed&utm_medium=rss")),
        concat(col("url"), lit("?b=2&a=1")),
        concat(col("url"), lit("?a=1&b=2&gclid=xyz")))).as("raw_url"))
      raw.groupBy(graft.expressions.GraftExpressions.urlCanon(col("raw_url"))
          .as("canonical_url"))
        .agg(count(lit(1)).cast("long").as("n_raw"),
          min(col("raw_url")).as("first_raw"))
        .orderBy("canonical_url")
    }),
    // per-domain scorecard over crawl urls — the crawl-frontier / domain
    // weighting report (d19's source scorecard keyed by HOST instead): five
    // deterministic subdomain shards are derived per page, each written in
    // the ugly wire form (uppercased host, explicit default port) that
    // graft_url_host must canonicalize; counts are structural (280/5 per
    // host), pinned in UrlSpec
    Query("x20_host_stats", (s, _) => {
      val urls = CorpusSource.pages(s, 280).toDF().select(col("url"))
      val idx = regexp_extract(col("url"), "doc([0-9]+)", 1).cast("long")
      val raw = concat(lit("HTTPS://W"), (idx % 5).cast("string"),
        lit(".Example.ORG:443"),
        regexp_replace(col("url"), "^https://example\\.org", ""))
      urls.select(graft.expressions.GraftExpressions.urlHost(raw).as("host"))
        .groupBy("host").agg(count(lit(1)).cast("long").as("n_docs"))
        .orderBy("host")
    }),
    // host-level link graph — the crawl WAT-records build: real href
    // extraction through the SAME tokenizer as text extraction (script-body
    // fake anchors provably skipped), entity-decoded values, absolute /
    // protocol-relative / relative resolution against the page host, then
    // one (src_host, dst_host) aggregation. Edge counts are closed-form
    // functions of the corpus size (LinkGraphSpec pins them).
    Query("x21_link_graph", (s, _) => {
      val gx = graft.expressions.GraftExpressions
      val pages = CorpusSource.linkPages(s, 280).toDF()
      val links = pages.select(col("url"),
          explode(gx.extractLinks(col("html"))).as("href"))
      val dst = when(col("href").rlike("^https?://"), gx.urlHost(col("href")))
        .when(col("href").startsWith("//"),
          gx.urlHost(concat(lit("https:"), col("href"))))
        .otherwise(gx.urlHost(col("url")))
      links.select(gx.urlHost(col("url")).as("src_host"), dst.as("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(count(lit(1)).cast("long").as("n_links"))
        .orderBy("src_host", "dst_host")
    }),
    // anchor-text corpus (WAT Links+text shape): (src_host, href, anchor
    // text) — the hyperlink-text training signal; text spans terminate at
    // the matching </a> (or an implicit re-open), entity-decoded,
    // whitespace-normalized. Exact rows pinned in LinkGraphSpec.
    Query("x22_anchor_text", (s, _) => {
      val gx = graft.expressions.GraftExpressions
      CorpusSource.linkPages(s, 280).toDF()
        .select(gx.urlHost(col("url")).as("src_host"),
          explode(gx.anchorTexts(col("html"))).as("a"))
        .select(col("src_host"), col("a.href").as("href"),
          col("a.text").as("anchor_text"))
        .groupBy("src_host", "anchor_text")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("src_host", "anchor_text")
    }),
    // site-template removal over REAL extracted blocks: the two-pass shape —
    // pass 1 extracts per-page blocks (narrow), pass 2 drops blocks that
    // recur on >= 1/2 of the host's pages (nav/footer chrome the single-page
    // cascade provably keeps — the corpus writes them as plain content-like
    // <p>s). Closed-form expectations pinned in TemplateSpec.
    Query("x23_template_boiler", (s, _) => {
      val gx = graft.expressions.GraftExpressions
      val blocks = Extract.run(CorpusSource.templatePages(s, 280)).toDF()
        .select(col("url"), explode(col("spans")).as("sp"))
        .select(col("url").as("id"), gx.urlHost(col("url")).as("grp"),
          col("sp.blockIdx").as("idx"), col("sp.text").as("unit"))
      TextFunctions.templateFilter(blocks, num = 1, den = 2, minPages = 2)
        .select(col("id").as("url"), col("n_units").as("n_blocks"),
          col("n_boiler"), col("clean_text"))
        .orderBy("url")
    }),
    // robots.txt gate, ENGINE path (x25): authored per-host robots.txt
    // bodies parse once into the RFC 9309 rule set (comments, ignored
    // non-* groups, empty Disallow, `*` wildcards, `$` anchors — the full
    // matcher SQL cannot express), broadcast as O(hosts) control-plane
    // state; the frontier gate itself is a row-local decide, zero shuffle.
    // Closed-form verdicts pinned in RobotsSpec.
    Query("x25_robots_gate", (s, _) => {
      import s.implicits._
      val bc = s.sparkContext.broadcast(CorpusSource.frontierRuleMap)
      s.range(300).map { i =>
        val url = CorpusSource.frontierUrl(i.toInt)
        val host = graft.expressions.UrlKernel.host(url)
        val allowed = graft.functions.Robots.decide(
          graft.expressions.UrlKernel.path(url),
          bc.value.getOrElse(host, Vector.empty))
        (url, host, allowed)
      }.toDF("url", "host", "allowed").orderBy("url")
    }),
    // robots.txt discovery records (x30): Sitemap lines (group-independent,
    // first-occurrence dedup) and the `*`-group Crawl-delay in ms (first
    // wins, fractional seconds) — the inputs that seed x26's frontier and
    // d49's per-host delay
    Query("x30_robots_discovery", (s, _) => {
      import s.implicits._
      s.range(5).flatMap { h =>
        val (maps, delay) =
          graft.functions.Robots.discovery(CorpusSource.robotsTxt(h.toInt))
        maps.zipWithIndex.map { case (m, i) =>
          (s"h$h.example.org", i.toLong, m, delay) }
      }.toDF("host", "sitemap_idx", "sitemap", "crawl_delay_ms")
        .orderBy("host", "sitemap_idx")
    }),
    // base-aware outlink resolution (x27): every <a href> RFC 3986-resolved
    // against the page's effective base (<base href> honored, first-wins) —
    // the full-URL frontier feed behind the x21 host graph; one codegen'd
    // kernel pass (graft_resolved_links), zero shuffle before the sort.
    // Closed-form expectations for all eight RFC reference classes pinned
    // in UrlResolveSpec.
    Query("x27_resolved_links", (s, _) => {
      val gx = graft.expressions.GraftExpressions
      CorpusSource.basePages(s, 280).toDF()
        .select(col("url"),
          explode(gx.resolvedLinks(col("html"), col("url"))).as("resolved"))
        .orderBy("url", "resolved")
    }),
    // sitemap ingestion → frontier construction (x26): the crawl DISCOVERY
    // composition — distributed sitemap parse (same tokenizer, arena reuse
    // per partition; urlset vs sitemapindex, CDATA locs, entity decode),
    // url canonicalization, then the RFC 9309 robots gate. Zero shuffle
    // until the final ORDER BY; closed-form rows pinned in RobotsSpec.
    Query("x26_sitemap_frontier", (s, _) =>
      frontierEntries(s)
        .select("sitemap_url", "loc", "lastmod", "is_index", "allowed")
        .orderBy("loc")),
    // the full crawl PLAN — the loop's composition surface (the x13/d18
    // idiom): x30 discovery supplies each host's Crawl-delay, the x26
    // frontier (the SAME frontierEntries walk — one definition, so the
    // gate cannot diverge between the two surfaces) supplies canonicalized
    // robots-allowed PAGE urls, and the d49 scheduler turns both into
    // per-host fetch slots on md5-affine worker shards. Disallowed urls
    // never reach the schedule, and sitemap-INDEX shard locs (is_index —
    // discovery artifacts, not fetchable pages) never consume a politeness
    // slot.
    Query("x31_crawl_plan", (s, _) => {
      import s.implicits._
      val delays = (0 until 5).map { h =>
        val d = graft.functions.Robots.discovery(CorpusSource.robotsTxt(h))._2
        s"h$h.example.org" -> d.getOrElse(1000L)
      }.toDF("host", "delay_ms")
      val frontier = frontierEntries(s)
        .filter(col("allowed") && !col("is_index") && col("host") =!= "")
        .select(col("loc").as("url"), col("host")).distinct()
      RobotsFunctions.crawlSchedule(
        frontier.join(broadcast(delays), Seq("host")), workers = 4)
    }),
    // head-metadata extraction (WAT Head-record shape: title, metas,
    // rel=canonical, html lang) — one row-local kernel pass, zero shuffle;
    // first-wins duplicates and script-body phantom metas pinned in
    // HeadMetaSpec against the authored corpus.
    Query("x24_head_meta", (s, _) => {
      val gx = graft.expressions.GraftExpressions
      CorpusSource.metaPages(s, 280).toDF()
        .select(col("url"), gx.headMeta(col("html")).as("m"))
        .select(col("url"), col("m.title").as("title"),
          col("m.description").as("description"),
          col("m.canonical").as("canonical"), col("m.robots").as("robots"),
          col("m.og_title").as("og_title"),
          col("m.og_description").as("og_description"),
          col("m.lang").as("lang"))
        .orderBy("url")
    }),
    // Iceberg-style date-partitioned ingest (north star: "partition pruning
    // on warc_ts date partitions"): the corpus commits partitioned by
    // dt=date(warc_ts) — the Common-Crawl crawl-day layout — and the
    // reader's dt-range predicate prunes at the directory level
    // (PartitionFilters on the scan, pinned in PlanShapeSpec; at 10^12 rows
    // the difference between scanning 3 days and scanning the whole table).
    // dt then flows through the codegen'd extraction kernel to a per-day
    // rollup with map-side partial aggregation — no join to recover the date.
    Query("x16_partitioned_ingest", (s, _) => {
      val out = java.nio.file.Files.createTempDirectory("graft_dtpart").toFile
      // deleteOnExit cannot remove a non-empty directory — the partitioned
      // dt=*/part-* tree needs a recursive delete at JVM exit
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(out): Unit))
      CorpusSource.pages(s, 280).toDF()
        .withColumn("dt", to_date(col("warc_ts")))
        .write.partitionBy("dt").mode("overwrite").parquet(out.getAbsolutePath)
      s.read.parquet(out.getAbsolutePath)
        .filter(col("dt").between(lit("2020-01-03"), lit("2020-01-05")))
        .select(col("dt").cast("string").as("dt"),
          GraftExpressions.extract_text(col("html")).as("text"))
        .groupBy(col("dt"))
        .agg(count(lit(1)).as("docs"),
          sum(length(col("text"))).as("chars"),
          sum(GraftExpressions.token_count(col("text"))).as("tokens"))
        .orderBy("dt")
    }),
    // DetResizeForTest arithmetic over media metadata (exact, spec-tested) —
    // the image fixtures feed REAL header dims through the 960px clamp
    Query("x11_media_resize", (s, _) =>
      MultimodalFunctions.resizePlan(
          MultimodalFunctions.mediaMeta(
            CorpusSource.pages(s, 280).union(CorpusSource.mediaPages(s, 48))))
        .orderBy("url")),
    // PDF branch: page/span explode over PDF payloads only — the tagPath
    // prefix below IS the selector (a charset clause would match every
    // utf-8 HTML page too; r2 "what's wrong" #3)
    Query("x06_pdf_spans", (s, _) =>
      Extract.run(CorpusSource.pages(s, 280)).toDF()
        .select(col("url"), explode(col("spans")).as("sp"))
        .filter(col("sp.tagPath").startsWith("pdf/"))
        .select(col("url"), col("sp.blockIdx").as("block_idx"),
          col("sp.tagPath").as("page"), col("sp.text"))),
    // embedded-image mining over PDF payloads (figure–caption pairs): each
    // image XObject row carries dict dims, header-parse dims cross-checked
    // via ImageHeaders, the CTM placement rect, and the nearest text block
    // below the rect as caption — the multimodal image–text pairing surface.
    // Zero shuffle (row-local flatMap). The raw payload bytes stay in the
    // library API (PdfImages.imageTable's `img` column); the query surface
    // keeps the md5 + byte count (binary cells don't survive the driver's
    // pandas hash, same rationale as x05's feature projection).
    Query("x17_pdf_images", (s, _) =>
      graft.functions.PdfImages.imageTable(CorpusSource.pdfImagePages(s, 60)).toDF()
        .drop("img")
        // y_top/x disambiguate a page drawing the SAME XObject several times
        // (one row per Do occurrence) — (url, page, name) alone is not a
        // total order for those, and equal-key rows may swap across runs
        .orderBy("url", "page", "img_name", "y_top", "x")),

    // ================= relational recasts (oracle-checked) =================
    // score/size filter + projection (≡ drop_score gate + KeepKeys,
    // tools/infer/predict_system.py:149-154, ppocr/data/imaug/operators.py:116-126)
    Query("q01_filter_project", (s, dir) =>
      lineitem(s, dir)
        .filter(col("l_quantity") >= 45 && col("l_discount") > 0.07)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))
        .orderBy("l_orderkey", "l_linenumber"),
      oracle = Some(
        """SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber, l_quantity,
          |       l_extendedprice * (1 - l_discount) AS net_price
          |FROM lineitem
          |WHERE l_quantity >= 45 AND l_discount > 0.07
          |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    // partial+final aggregate (≡ RecMetric accumulate/finalize,
    // ppocr/metrics/rec_metric.py:23-78); DECIMAL keeps float sums exact
    Query("q02_agg_metrics", (s, dir) =>
      lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .withColumn("avg_price", round(col("sum_price") / col("n_rows"), 4))
        .orderBy("l_returnflag", "l_linestatus"),
      oracle = Some(
        """SELECT l_returnflag, l_linestatus,
          |       sum(l_quantity) AS sum_qty,
          |       count(*)::BIGINT AS n_rows,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_price
          |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // top-k per group (≡ NMS keep_top_k, ppocr/postprocess/picodet_postprocess.py:108-116)
    Query("q03_topk_per_group", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      events(s, dir)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("user_id"), col("rank"), col("event_id"), col("value"))
        .orderBy("user_id", "rank")
    },
      oracle = Some(
        """SELECT user_id, rn AS rank, event_id, value FROM (
          |  SELECT user_id, event_id, value,
          |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
          |  FROM events) t
          |WHERE rn <= 3 ORDER BY user_id, rank""".stripMargin)),
    // reading-order sort (≡ sorted_boxes, tools/infer/predict_system.py:160-182)
    Query("q04_reading_order", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      events(s, dir)
        .withColumn("seq", row_number().over(w).cast("long"))
        .select(col("user_id"), col("seq"), col("event_id"), col("ts"))
        .orderBy("user_id", "seq")
    },
      oracle = Some(
        """SELECT user_id,
          |       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
          |       event_id, ts
          |FROM events ORDER BY user_id, seq""".stripMargin)),
    // interval/theta join (≡ layout×text spatial assignment,
    // ppstructure/predict_system.py:176-271)
    Query("q05_interval_join", (s, dir) =>
      lineitem(s, dir).join(orders(s, dir),
          col("l_orderkey") === col("o_orderkey")
            && col("l_shipdate") >= col("o_orderdate")
            && col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy("o_orderstatus"),
      oracle = Some(
        """SELECT o_orderstatus, count(*)::BIGINT AS n, sum(l_quantity) AS sum_qty,
          |       count(DISTINCT o_orderkey)::BIGINT AS n_orders
          |FROM lineitem JOIN orders
          |  ON l_orderkey = o_orderkey
          | AND l_shipdate >= o_orderdate
          | AND l_shipdate < o_orderdate + INTERVAL 90 DAY
          |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // broadcast dimension joins (≡ char-dict broadcast / shared small state,
    // ppocr/postprocess/rec_postprocess.py:26-51)
    Query("q06_broadcast_dims", (s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val nat = s.read.parquet(s"$dir/nation.parquet")
      val reg = s.read.parquet(s"$dir/region.parquet")
      cust.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_acctbal"))
        .orderBy("r_name", "n_name")
    },
      oracle = Some(
        """SELECT r_name, n_name, count(*)::BIGINT AS n_customers,
          |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
          |FROM customer
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // explode + offset-preserving reassembly (≡ slice det + offset rebase,
    // tools/infer/predict_system.py:86-107)
    Query("q07_explode_rebase", (s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val rebuilt = toks.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_tokens"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          st => st.getField("tok")), " ").as("rebuilt"))
      docs(s, dir).select(col("doc_id"), col("text"))
        .join(rebuilt, Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          (col("rebuilt") === col("text")).as("roundtrip_ok"))
        .orderBy("doc_id")
    },
      oracle = Some(
        """SELECT d.doc_id, t.n_tokens, t.rebuilt = d.text AS roundtrip_ok
          |FROM documents d JOIN (
          |  SELECT doc_id, count(*)::BIGINT AS n_tokens,
          |         string_agg(s, ' ' ORDER BY p) AS rebuilt
          |  FROM (SELECT doc_id,
          |               unnest(string_split(text, ' ')) AS s,
          |               generate_subscripts(string_split(text, ' '), 1) AS p
          |        FROM documents) u
          |  GROUP BY doc_id) t ON d.doc_id = t.doc_id
          |ORDER BY d.doc_id""".stripMargin)),
    // fragment merge → sessionization (≡ merge_fragmented adjacency fusion,
    // tools/infer/utility.py:963-1018, recast to time gaps)
    Query("q08_sessionize", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("is_new",
          when(col("prev_ts").isNull
            || (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 300, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(wRun))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("ts_start"), max(col("ts")).as("ts_end"))
        .orderBy("user_id", "session_id")
    },
      oracle = Some(
        """WITH marked AS (
          |  SELECT user_id, event_id, ts,
          |         CASE WHEN lag(ts) OVER w IS NULL
          |               OR date_diff('second', lag(ts) OVER w, ts) > 300
          |              THEN 1 ELSE 0 END AS is_new
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |), sessions AS (
          |  SELECT user_id, ts,
          |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                           ROWS UNBOUNDED PRECEDING) AS session_id
          |  FROM marked)
          |SELECT user_id, session_id::BIGINT AS session_id, count(*)::BIGINT AS n_events,
          |       min(ts) AS ts_start, max(ts) AS ts_end
          |FROM sessions GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // salted two-stage aggregation (explicit skew handling ≡ SURVEY.md §4.4;
    // result provably identical to the direct GROUP BY, which IS the oracle)
    Query("q09_salted_agg", (s, dir) =>
      events(s, dir)
        .withColumn("salt", pmod(col("event_id"), lit(16)))
        .groupBy(col("event_type"), col("salt"))
        .agg(count(lit(1)).as("c"),
          sum(col("value").cast("decimal(18,6)")).as("sv"))
        .groupBy(col("event_type"))
        .agg(sum(col("c")).as("n"), sum(col("sv")).cast("double").as("sum_value"))
        .orderBy("event_type"),
      oracle = Some(
        """SELECT event_type, count(*)::BIGINT AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    // running windowed aggregate (≡ box_score running accumulation shape,
    // ppocr/postprocess/db_postprocess.py:189-225)
    Query("q10_window_running", (s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lineitem(s, dir)
        .filter(col("l_suppkey") < 100)
        .withColumn("running_qty", sum(col("l_quantity")).over(w))
        .select(col("l_suppkey"), col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"), col("running_qty"))
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    },
      oracle = Some(
        """SELECT l_suppkey, l_orderkey, l_linenumber::BIGINT AS l_linenumber,
          |       sum(l_quantity) OVER (PARTITION BY l_suppkey
          |                             ORDER BY l_shipdate, l_orderkey, l_linenumber
          |                             ROWS UNBOUNDED PRECEDING) AS running_qty
          |FROM lineitem WHERE l_suppkey < 100
          |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)),

    // as-of join (≡ table-cell argmin matching, ppstructure/table/matcher.py:
    // 20-102: each element matched to the nearest preceding reference).
    // Sort-merge formulation: one shuffle, carry-forward window — scales
    // linearly, unlike a range-join + argmax over candidate pairs.
    Query("q11_asof_join", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .filter(col("event_type").isin("view", "click"))
        .withColumn("view_id",
          last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true).over(w))
        .withColumn("view_ts",
          last(when(col("event_type") === "view", col("ts")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"), col("view_id"), col("view_ts"))
        .orderBy("user_id", "click_id")
    },
      oracle = Some(
        """WITH t AS (SELECT user_id, ts, event_id, event_type FROM events
          |           WHERE event_type IN ('view', 'click')),
          |m AS (SELECT user_id, ts, event_id, event_type,
          |        last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
          |          OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                ROWS UNBOUNDED PRECEDING) AS view_id,
          |        last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
          |          OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                ROWS UNBOUNDED PRECEDING) AS view_ts
          |      FROM t)
          |SELECT user_id, event_id AS click_id, ts AS click_ts, view_id, view_ts
          |FROM m WHERE event_type = 'click' ORDER BY user_id, click_id""".stripMargin)),
    // semi-structured projection: JSON props parsed inline then aggregated
    // (≡ the dict-shaped data flowing through the reference's operator chain,
    // ppocr/data/imaug/__init__.py:68-96, recast as a typed JSON path)
    Query("q12_json_props", (s, dir) =>
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type"),
      oracle = Some(
        """SELECT event_type, count(*)::BIGINT AS n,
          |       sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
          |       min(json_extract(props, '$.k')::BIGINT) AS min_k,
          |       max(json_extract(props, '$.k')::BIGINT) AS max_k
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    // extraction QA as a typed partial+final Aggregator (≡ RecMetric,
    // ppocr/metrics/rec_metric.py:23-78): exact-match must be 1.0 vs golden
    Query("x08_extraction_qa", (s, _) => {
      import s.implicits._
      val got = Extract.run(CorpusSource.pages(s, 280))
        .map(d => (d.url, d.text)).toDF("url", "got")
      val want = CorpusSource.goldenExpected(s, 280).toDF("url", "want")
      val pairs = got.join(want, "url")
        .select(col("got"), col("want"))
        .as[graft.functions.MetricsAggregator.Pair]
      graft.functions.MetricsAggregator.extractionQa(pairs).toDF()
    }),
    // DetMetric analog (ppocr/metrics/det_metric.py:24-77): block-label
    // precision/recall/hmean of extraction spans vs the golden label
    // sequence, global-sum semantics. Rows-only check (corpus-synthesized);
    // exact values are pinned in MetricsSpec against hand-computed counts.
    Query("x14_det_metric", (s, _) => {
      import s.implicits._
      val got = Extract.run(CorpusSource.pages(s, 280))
        .map(d => (d.url, d.spans.map(_.label))).toDF("url", "pred")
      val want = CorpusSource.goldenLabels(s, 280).toDF("url", "gt")
      val pairs = got.join(want, "url")
        .select(col("pred"), col("gt"))
        .as[graft.functions.MetricsAggregator.LabelPair]
      graft.functions.MetricsAggregator.detectionQa(pairs).toDF()
    }),

    // ================= training-data ops over `documents` ==================
    Query("d01_token_count", (s, dir) => TextFunctions.tokenStats(docs(s, dir)),
      oracle = Some(
        """SELECT doc_id,
          |       len(string_split(text, ' '))::BIGINT AS n_tokens,
          |       length(text)::BIGINT AS n_chars
          |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("d02_quality", (s, dir) => TextFunctions.qualityScore(docs(s, dir)),
      oracle = Some(
        """SELECT doc_id,
          |       length(text)::BIGINT AS n_chars,
          |       len(string_split(text, ' '))::BIGINT AS n_tokens,
          |       round(length(text)::DOUBLE / len(string_split(text, ' ')), 4) AS avg_token_len,
          |       round(length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
          |             / greatest(length(text), 1), 4) AS digit_ratio,
          |       round(len(list_filter(string_split(text, ' '),
          |                 w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w)))::DOUBLE
          |             / greatest(len(string_split(text, ' ')), 1), 4) AS stopword_ratio
          |FROM documents ORDER BY doc_id""".stripMargin)),
    // the composed Gopher keep/drop gate (Rae et al. A1.1) with per-rule
    // verdicts — integer-exact thresholds, zero shuffle
    Query("d44_gopher_gate", (s, dir) => TextFunctions.gopherGate(docs(s, dir)),
      oracle = Some {
        val stops = graft.functions.TextFunctions.stopwords
          .map(w => s"(CASE WHEN list_contains(ws, '$w') THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws
           |           FROM documents),
           |s AS (SELECT doc_id,
           |        len(ws)::BIGINT AS n_words,
           |        (length(text) - (len(ws) - 1))::BIGINT AS sum_word_chars,
           |        ((length(text) - length(replace(text, '#', '')))
           |         + (length(text) - length(replace(text, '...', ''))) // 3
           |        )::BIGINT AS n_symbols,
           |        len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::BIGINT
           |          AS n_alpha_words,
           |        ($stops)::BIGINT AS n_stopwords
           |      FROM t)
           |SELECT doc_id, n_words, sum_word_chars, n_symbols, n_alpha_words,
           |       n_stopwords,
           |       (n_words >= 50 AND n_words <= 100000) AS c_words,
           |       (sum_word_chars >= n_words * 3 AND sum_word_chars <= n_words * 10)
           |         AS c_mean_len,
           |       (n_symbols * 10 <= n_words) AS c_symbol,
           |       (n_alpha_words * 5 >= n_words * 4) AS c_alpha,
           |       (n_stopwords >= 2) AS c_stop,
           |       (n_words >= 50 AND n_words <= 100000
           |        AND sum_word_chars >= n_words * 3
           |        AND sum_word_chars <= n_words * 10
           |        AND n_symbols * 10 <= n_words
           |        AND n_alpha_words * 5 >= n_words * 4
           |        AND n_stopwords >= 2) AS keep
           |FROM s ORDER BY doc_id""".stripMargin
      }),
    // the C4 line-level cleanup (Raffel et al. §2.2) — lines synthesized
    // from the doc's own tokens with integer-arithmetic rule violators
    // planted in both engines; emits verdicts AND the kept-lines rewrite
    Query("d47_c4_gate", (s, dir) => TextFunctions.c4Gate(docs(s, dir)),
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |seg AS (SELECT doc_id, ws,
          |               unnest(range(0, greatest(
          |                 CAST(ceil(len(ws)::DOUBLE / 6) AS INT), 1))) AS i
          |        FROM t),
          |l0 AS (SELECT doc_id, i,
          |              array_to_string(ws[i*6+1 : i*6+6], ' ') AS s0 FROM seg),
          |l1 AS (SELECT doc_id, i, CASE WHEN (doc_id*7 + i) % 11 = 5
          |              THEN s0 || ' javascript' ELSE s0 END AS s1 FROM l0),
          |l2 AS (SELECT doc_id, i, CASE WHEN doc_id % 17 = 3 AND i = 0
          |              THEN s1 || ' lorem ipsum' ELSE s1 END AS s2 FROM l1),
          |l3 AS (SELECT doc_id, i, CASE WHEN doc_id % 19 = 7 AND i = 1
          |              THEN s2 || ' {' ELSE s2 END AS s3 FROM l2),
          |l4 AS (SELECT doc_id, i, CASE WHEN (doc_id + i) % 3 <> 2
          |              THEN s3 || '.' ELSE s3 END AS line FROM l3),
          |k AS (SELECT doc_id, i, line,
          |             (len(string_split(line, ' ')) >= 5
          |              AND line LIKE '%.'
          |              AND line NOT LIKE '%javascript%') AS kp
          |      FROM l4),
          |agg AS (SELECT doc_id,
          |          count(*)::BIGINT AS n_lines,
          |          sum(CASE WHEN kp THEN 1 ELSE 0 END)::BIGINT AS n_kept_lines,
          |          max(CASE WHEN line LIKE '%lorem ipsum%' THEN 1 ELSE 0 END) = 1
          |            AS has_lorem,
          |          max(CASE WHEN line LIKE '%{%' THEN 1 ELSE 0 END) = 1
          |            AS has_brace,
          |          COALESCE(string_agg(CASE WHEN kp THEN line END, chr(10)
          |                              ORDER BY i), '') AS clean_text
          |        FROM k GROUP BY doc_id)
          |SELECT doc_id, n_lines, n_kept_lines, has_lorem, has_brace,
          |       (n_kept_lines >= 3) AS c_sentences,
          |       (NOT has_lorem AND NOT has_brace AND n_kept_lines >= 3) AS keep,
          |       clean_text
          |FROM agg ORDER BY doc_id""".stripMargin)),
    Query("d03_lang_id", (s, dir) => TextFunctions.langId(docs(s, dir)),
      oracle = Some {
        val esc = (s: String) => s.replace("'", "''") // SQL-literal escape, like d13's pattern
        val values = TextFunctions.langMarkers
          .map { case (l, m) => s"('${esc(l)}','${esc(m)}')" }.mkString(", ")
        val shingles = TextFunctions.shingleMarkers
          .map { case (l, m) => s"('${esc(l)}','${esc(m)}')" }.mkString(", ")
        s"""WITH markers(cand_lang, marker) AS (SELECT * FROM (VALUES $values) v),
           |shingles(cand_lang, marker) AS (SELECT * FROM (VALUES $shingles) v),
           |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
           |votes_tok AS (
           |  SELECT doc_id, cand_lang, count(*)::BIGINT AS votes
           |  FROM toks JOIN markers ON tok = marker GROUP BY 1, 2),
           |votes_sub AS (
           |  -- no-space scripts: substring occurrence count; HAVING > 0 keeps
           |  -- the zero-vote semantics identical to the inner-join token path
           |  SELECT d.doc_id, s.cand_lang,
           |         sum((length(d.text) - length(replace(d.text, s.marker, '')))
           |             // length(s.marker))::BIGINT AS votes
           |  FROM documents d CROSS JOIN shingles s
           |  GROUP BY 1, 2
           |  HAVING sum((length(d.text) - length(replace(d.text, s.marker, '')))
           |             // length(s.marker)) > 0),
           |votes AS (SELECT * FROM votes_tok UNION ALL SELECT * FROM votes_sub),
           |best AS (
           |  SELECT doc_id, cand_lang, votes FROM (
           |    SELECT *, row_number() OVER (PARTITION BY doc_id
           |                                 ORDER BY votes DESC, cand_lang) AS rn
           |    FROM votes) r WHERE rn = 1)
           |SELECT d.doc_id,
           |       coalesce(b.cand_lang, 'und') AS pred_lang,
           |       coalesce(b.votes, 0)::BIGINT AS votes,
           |       coalesce(b.cand_lang, 'und') = d.lang AS matches_label
           |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
           |ORDER BY d.doc_id""".stripMargin
      }),
    Query("d04_fingerprint", (s, dir) => TextFunctions.fingerprint(docs(s, dir)),
      oracle = Some(
        """SELECT doc_id, md5(text) AS content_md5,
          |       (string_split(text, ' '))[1] AS first_token,
          |       (string_split(text, ' '))[-1] AS last_token,
          |       length(text)::BIGINT AS n_chars
          |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("d05_dedup_exact", (s, dir) => DedupFunctions.exactGroups(docs(s, dir)),
      oracle = Some(
        """SELECT md5(text) AS content_md5, min(doc_id) AS keeper_doc_id,
          |       count(*)::BIGINT AS group_size
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("d06_minhash_sig", (s, dir) => TextFunctions.minhashSignature(docs(s, dir), 4),
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |sh AS (SELECT doc_id,
          |              unnest(list_transform(range(len(ws) - 2),
          |                     i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS s
          |       FROM t WHERE len(ws) >= 3),
          |sig AS (SELECT doc_id,
          |               min(md5('0:' || s)) AS mh0, min(md5('1:' || s)) AS mh1,
          |               min(md5('2:' || s)) AS mh2, min(md5('3:' || s)) AS mh3
          |        FROM sh GROUP BY doc_id)
          |SELECT t.doc_id, sig.mh0, sig.mh1, sig.mh2, sig.mh3
          |FROM t LEFT JOIN sig ON t.doc_id = sig.doc_id
          |ORDER BY t.doc_id""".stripMargin)),
    Query("d07_lsh_pairs", (s, dir) => DedupFunctions.lshCandidatePairs(docs(s, dir), 4),
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |sh AS (SELECT doc_id,
          |              unnest(list_transform(range(len(ws) - 2),
          |                     i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS s
          |       FROM t WHERE len(ws) >= 3),
          |sig AS (SELECT doc_id,
          |               min(md5('0:' || s)) AS mh0, min(md5('1:' || s)) AS mh1,
          |               min(md5('2:' || s)) AS mh2, min(md5('3:' || s)) AS mh3
          |        FROM sh GROUP BY doc_id),
          |bands AS (SELECT doc_id, unnest([mh0, mh1, mh2, mh3]) AS band FROM sig)
          |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
          |ORDER BY doc_a, doc_b""".stripMargin)),
    Query("d08_jaccard_pairs", (s, dir) => DedupFunctions.jaccardPairs(docs(s, dir), 0.5),
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |sh AS (SELECT doc_id,
          |              unnest(list_transform(range(len(ws) - 2),
          |                     i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS s
          |       FROM t WHERE len(ws) >= 3),
          |sig AS (SELECT doc_id,
          |               min(md5('0:' || s)) AS mh0, min(md5('1:' || s)) AS mh1,
          |               min(md5('2:' || s)) AS mh2, min(md5('3:' || s)) AS mh3
          |        FROM sh GROUP BY doc_id),
          |bands AS (SELECT doc_id, unnest([mh0, mh1, mh2, mh3]) AS band FROM sig),
          |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |          FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
          |u AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM documents)
          |SELECT doc_a, doc_b, jaccard FROM (
          |  SELECT doc_a, doc_b,
          |         round(len(list_intersect(ua.ws, ub.ws))::DOUBLE
          |               / (len(ua.ws) + len(ub.ws) - len(list_intersect(ua.ws, ub.ws))), 4) AS jaccard
          |  FROM cands JOIN u ua ON doc_a = ua.doc_id JOIN u ub ON doc_b = ub.doc_id) p
          |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin)),
    // incremental NEAR-dup dedup: standing corpus = doc_id < 250 (the d26
    // batch-split idiom), new crawl = the rest; 182 verified cross-split
    // near-dup pairs exist at sf0.001, so drops genuinely occur
    Query("d55_incremental_lsh", (s, dir) =>
      DedupFunctions.incrementalLshDedup(
        docs(s, dir).filter(col("doc_id") < 250),
        docs(s, dir).filter(col("doc_id") >= 250), minJaccard = 0.5),
      oracle = Some(
        """WITH t AS (SELECT doc_id, doc_id < 250 AS standing,
          |                  string_split(text, ' ') AS ws FROM documents),
          |sh AS (SELECT doc_id, standing,
          |              unnest(list_transform(range(len(ws) - 2),
          |                     i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS s
          |       FROM t WHERE len(ws) >= 3),
          |sig AS (SELECT doc_id, standing,
          |               min(md5('0:' || s)) AS mh0, min(md5('1:' || s)) AS mh1,
          |               min(md5('2:' || s)) AS mh2, min(md5('3:' || s)) AS mh3
          |        FROM sh GROUP BY doc_id, standing),
          |bands AS (SELECT doc_id, standing,
          |                 unnest([mh0, mh1, mh2, mh3]) AS band FROM sig),
          |cands AS (SELECT DISTINCT b.doc_id AS bid, s.doc_id AS sid
          |          FROM bands b JOIN bands s ON b.band = s.band
          |          WHERE NOT b.standing AND s.standing),
          |u AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
          |      FROM documents),
          |v AS (SELECT bid,
          |             round(len(list_intersect(ua.ws, ub.ws))::DOUBLE
          |                   / (len(ua.ws) + len(ub.ws)
          |                      - len(list_intersect(ua.ws, ub.ws))), 4) AS j
          |      FROM cands JOIN u ua ON bid = ua.doc_id
          |                 JOIN u ub ON sid = ub.doc_id),
          |p AS (SELECT bid, count(*)::BIGINT AS n_candidates,
          |             sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END)::BIGINT
          |               AS n_neardups
          |      FROM v GROUP BY bid)
          |SELECT d.doc_id,
          |       coalesce(p.n_candidates, 0)::BIGINT AS n_candidates,
          |       coalesce(p.n_neardups, 0)::BIGINT AS n_neardups,
          |       (coalesce(p.n_neardups, 0) = 0) AS keep
          |FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) d
          |LEFT JOIN p ON d.doc_id = p.bid
          |ORDER BY d.doc_id""".stripMargin)),
    // banded MinHash-LSH: 4 bands × 2 rows — the production threshold knob
    // (a pair must agree on BOTH minhashes of some band)
    Query("d43_lsh_banded", (s, dir) =>
      DedupFunctions.lshBandedPairs(docs(s, dir), bands = 4, rows = 2),
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |sh AS (SELECT doc_id,
          |              unnest(list_transform(range(len(ws) - 2),
          |                     i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS s
          |       FROM t WHERE len(ws) >= 3),
          |sig AS (SELECT doc_id,
          |               min(md5('0:' || s)) AS mh0, min(md5('1:' || s)) AS mh1,
          |               min(md5('2:' || s)) AS mh2, min(md5('3:' || s)) AS mh3,
          |               min(md5('4:' || s)) AS mh4, min(md5('5:' || s)) AS mh5,
          |               min(md5('6:' || s)) AS mh6, min(md5('7:' || s)) AS mh7
          |        FROM sh GROUP BY doc_id),
          |bands AS (SELECT doc_id, unnest([
          |            md5('0:' || mh0 || mh1), md5('1:' || mh2 || mh3),
          |            md5('2:' || mh4 || mh5), md5('3:' || mh6 || mh7)]) AS band
          |          FROM sig WHERE mh0 IS NOT NULL)
          |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
          |ORDER BY doc_a, doc_b""".stripMargin)),
    // BPE tokenizer TRAINING: 5 merge rounds over the word dictionary of a
    // bounded slice (doc_id < 200 keeps the 5-round unrolled oracle CTE
    // tractable — the d11 idiom; the operator itself is unbounded)
    Query("d45_bpe_learn", (s, dir) =>
      TextFunctions.bpeLearn(docs(s, dir).filter(col("doc_id") < 200), 5),
      // the 5 BPE merge rounds unroll as CTE stages (the d32 PageRank idiom);
      // each round's merge apply is a list_reduce whose lambda closes over the
      // round's argmax row — generated programmatically so round count stays
      // in ONE place (bpeTrainingCtes, shared with the d46 encode oracle)
      oracle = Some {
        val n = 5
        val sel = (1 to n).map(i =>
          s"SELECT $i::BIGINT AS step, l AS left_tok, r AS right_tok, " +
            s"l || r AS merged, c AS pair_count FROM t$i")
          .mkString("\n", "\nUNION ALL\n", "\nORDER BY step")
        bpeTrainingCtes(n) + sel
      }),
    // the apply side: train on the same slice, encode the WHOLE corpus —
    // the merge table is an O(vocab) control plane (collect is 5 rows)
    Query("d46_bpe_encode", (s, dir) => {
      val merges = TextFunctions
        .bpeLearn(docs(s, dir).filter(col("doc_id") < 200), 5)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      TextFunctions.bpeEncode(docs(s, dir), merges)
    },
      // encode = the SAME training CTEs derive t1..t5, then every document's
      // words fold through the merges in rank order; counts compare
      oracle = Some {
        val n = 5
        val a0 =
          """,
            |a0 AS (SELECT doc_id, rtrim(regexp_replace(w, '(.)', '\1 ', 'g')) AS s
            |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            |             FROM documents))""".stripMargin
        val applies = (1 to n).map(i => s""",
          |a$i AS (SELECT doc_id, ${bpeMergeLambda(s"t$i")} AS s
          |        FROM a${i - 1} CROSS JOIN t$i)""".stripMargin).mkString
        bpeTrainingCtes(n) + a0 + applies +
          s"""
             |SELECT doc_id, count(*)::BIGINT AS n_words,
             |       sum(len(string_split(s, ' ')))::BIGINT AS n_subwords
             |FROM a$n GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),
    Query("d09_simhash16", (s, dir) => TextFunctions.simhash16(docs(s, dir)),
      oracle = Some {
        val votes = (0 until 16).map(d =>
          s"sum(CASE WHEN substr(h, ${d + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v$d")
          .mkString(",\n            ")
        val bits = (0 until 16).map(d =>
          s"CASE WHEN v$d > 0 THEN ${1L << d} ELSE 0 END").mkString(" + ")
        s"""WITH toks AS (
           |  SELECT doc_id, md5(tok) AS h FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) u),
           |votes AS (
           |  SELECT doc_id,
           |            $votes
           |  FROM toks GROUP BY doc_id)
           |SELECT doc_id, ($bits)::BIGINT AS simhash16
           |FROM votes ORDER BY doc_id""".stripMargin
      }),
    // word-level spans (get_word_info analog); doc_id < 200 keeps the oracle
    // compare bounded — the operator itself is unbounded (pure window math)
    Query("d11_word_spans", (s, dir) =>
      TextFunctions.wordSpans(docs(s, dir).filter(col("doc_id") < 200)),
      oracle = Some(
        """WITH toks AS (
          |  SELECT doc_id,
          |         unnest(string_split(text, ' ')) AS word,
          |         generate_subscripts(string_split(text, ' '), 1) - 1 AS word_idx
          |  FROM documents WHERE doc_id < 200),
          |offs AS (
          |  SELECT doc_id, word_idx, word,
          |         COALESCE(sum(length(word)) OVER (PARTITION BY doc_id ORDER BY word_idx
          |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |           + word_idx AS start_off
          |  FROM toks)
          |SELECT doc_id, word_idx::BIGINT AS word_idx, word,
          |       start_off::BIGINT AS start_off,
          |       (start_off + length(word))::BIGINT AS end_off
          |FROM offs ORDER BY doc_id, word_idx""".stripMargin)),
    // BPE-ish sub-word token counting next to the whitespace count
    Query("d13_bpe_tokens", (s, dir) => TextFunctions.bpeTokenStats(docs(s, dir)),
      oracle = Some {
        val pat = TextFunctions.bpePattern.replace("'", "''") // SQL-literal escape
        s"""SELECT doc_id,
           |       len(string_split(text, ' '))::BIGINT AS n_ws_tokens,
           |       len(regexp_extract_all(text, '$pat'))::BIGINT AS n_bpe_tokens
           |FROM documents ORDER BY doc_id""".stripMargin
      }),
    // Gopher-rule repetition signals (type–token ratio, top-token and
    // top-bigram fractions — the boilerplate/spam gate of a web-text
    // training-data pipeline)
    Query("d14_repetition", (s, dir) => TextFunctions.repetitionSignals(docs(s, dir)),
      oracle = Some(
        """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
          |tc AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
          |ta AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens,
          |              count(*)::BIGINT AS n_distinct, max(c) AS m
          |       FROM tc GROUP BY 1),
          |d AS (SELECT doc_id, string_split(text, ' ') AS ls FROM documents),
          |b AS (SELECT doc_id, ls[i] || ' ' || ls[i + 1] AS bg
          |      FROM (SELECT doc_id, ls, unnest(range(1, len(ls))) AS i FROM d)),
          |bc AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2),
          |ba AS (SELECT doc_id, sum(c)::BIGINT AS n_bigrams, max(c) AS mb
          |       FROM bc GROUP BY 1)
          |SELECT ta.doc_id AS doc_id, n_tokens, n_distinct,
          |       round(n_distinct::DOUBLE / n_tokens, 4) AS distinct_ratio,
          |       round(m::DOUBLE / n_tokens, 4) AS top_token_frac,
          |       coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
          |       coalesce(round(mb::DOUBLE / n_bigrams, 4), 0.0) AS top_bigram_frac
          |FROM ta LEFT JOIN ba ON ta.doc_id = ba.doc_id
          |ORDER BY ta.doc_id""".stripMargin)),
    // the FULL Gopher A1.2 repetition gate — top-{2,3,4}-gram and
    // duplicate-{5..10}-gram char coverage vs the published thresholds,
    // integer-exact; one scorecard row per (doc_id, n) + composed verdict
    Query("d48_gopher_repetition",
      (s, dir) => TextFunctions.gopherRepetition(docs(s, dir)),
      oracle = Some(
        """WITH t AS (SELECT doc_id, length(text)::BIGINT AS total_chars,
          |                  string_split(text, ' ') AS ws FROM documents),
          |g AS (SELECT doc_id, total_chars, n,
          |             unnest(list_transform(range(len(ws) - n + 1),
          |                    j -> array_to_string(ws[j+1 : j+n], ' '))) AS gram
          |      FROM t, (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n) ns
          |      WHERE len(ws) >= n),
          |gc AS (SELECT doc_id, total_chars, n, gram, count(*) AS c
          |       FROM g GROUP BY 1, 2, 3, 4),
          |rk AS (SELECT *, row_number() OVER
          |         (PARTITION BY doc_id, n ORDER BY c DESC, gram DESC) AS rn
          |       FROM gc),
          |tops AS (SELECT doc_id, n, c::BIGINT AS top_count, gram AS top_gram,
          |                (c * length(gram))::BIGINT AS top_chars
          |         FROM rk WHERE rn = 1),
          |dups AS (SELECT doc_id, total_chars, n, sum(c)::BIGINT AS n_grams,
          |                sum(CASE WHEN c >= 2 THEN c * length(gram)
          |                         ELSE 0 END)::BIGINT AS dup_chars
          |         FROM gc GROUP BY 1, 2, 3),
          |j AS (SELECT d.doc_id, d.n, d.n_grams, t2.top_count, t2.top_gram,
          |             t2.top_chars, d.dup_chars, d.total_chars,
          |             CASE d.n WHEN 2 THEN 20 WHEN 3 THEN 18 WHEN 4 THEN 16
          |                      WHEN 5 THEN 15 WHEN 6 THEN 14 WHEN 7 THEN 13
          |                      WHEN 8 THEN 12 WHEN 9 THEN 11 ELSE 10 END AS pct
          |      FROM dups d JOIN tops t2 ON d.doc_id = t2.doc_id AND d.n = t2.n),
          |v AS (SELECT doc_id, n, n_grams, top_count, top_gram, top_chars,
          |             dup_chars, total_chars,
          |             CASE WHEN n <= 4 THEN top_chars * 100 <= total_chars * pct
          |                  ELSE dup_chars * 100 <= total_chars * pct END AS c_pass
          |      FROM j)
          |SELECT *, min(CASE WHEN c_pass THEN 1 ELSE 0 END)
          |            OVER (PARTITION BY doc_id) = 1 AS keep_doc
          |FROM v ORDER BY doc_id, n""".stripMargin)),
    // benchmark decontamination: docs with doc_id < 20 act as the eval set,
    // the rest as corpus — shared distinct 3-gram counts per corpus doc
    // (broadcast bench grams; the GPT-3 appendix-C overlap filter)
    Query("d15_decontam", (s, dir) => {
      val d = docs(s, dir)
      DedupFunctions.contamination(
        d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20), n = 3)
    },
      oracle = Some(
        """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ls FROM documents),
          |g AS (SELECT doc_id, ls[i] || ' ' || ls[i + 1] || ' ' || ls[i + 2] AS g
          |      FROM (SELECT doc_id, ls, unnest(range(1, len(ls) - 1)) AS i FROM ws)),
          |bg AS (SELECT DISTINCT g FROM g WHERE doc_id < 20),
          |hits AS (SELECT g.doc_id, count(DISTINCT g.g) AS n_overlap
          |         FROM g JOIN bg USING (g) WHERE g.doc_id >= 20 GROUP BY 1)
          |SELECT d.doc_id AS doc_id, coalesce(n_overlap, 0)::BIGINT AS n_overlap
          |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
          |WHERE d.doc_id >= 20 ORDER BY d.doc_id""".stripMargin)),
    // context-window chunking with overlap (sample packing): 64-token
    // windows, stride 48 — documents become training examples
    Query("d16_token_windows", (s, dir) =>
      TextFunctions.tokenWindows(docs(s, dir), window = 64, stride = 48),
      oracle = Some(
        """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ls FROM documents),
          |w AS (SELECT doc_id, ls,
          |        unnest(range(0, CASE WHEN len(ls) <= 64 THEN 1
          |                             ELSE CAST(ceil((len(ls) - 64)::DOUBLE / 48) AS INT) + 1
          |                        END)) AS i
          |      FROM ws)
          |SELECT doc_id, i::BIGINT AS window_idx, (i * 48)::BIGINT AS start_tok,
          |       least(64, len(ls) - i * 48)::BIGINT AS n_window_tokens,
          |       array_to_string(ls[i * 48 + 1 : i * 48 + 64], ' ') AS window_text
          |FROM w ORDER BY doc_id, window_idx""".stripMargin)),
    // deterministic data-mixture sampling: per-language keep rates through a
    // content-stable hash (resumable/auditable — never rand())
    Query("d17_mixture_sample", (s, dir) =>
      TextFunctions.mixtureSample(docs(s, dir), mixtureRates),
      oracle = Some {
        val cases = mixtureRates.map { case (lang, r) =>
          mixtureCaseSql(lang, r)
        }.mkString(" ")
        s"""SELECT doc_id, lang, CASE $cases ELSE TRUE END AS keep
           |FROM documents ORDER BY doc_id""".stripMargin
      }),
    // per-source scorecard: doc counts, duplication ratio, token mass — the
    // source-level weighting/drop decision of a web-corpus build
    Query("d19_source_scorecard", (s, dir) =>
      TextFunctions.sourceScorecard(docs(s, dir)),
      oracle = Some(
        """SELECT source, count(*)::BIGINT AS n_docs,
          |       count(DISTINCT md5(text))::BIGINT AS n_distinct,
          |       round(1.0 - count(DISTINCT md5(text))::DOUBLE / count(*), 4) AS dup_ratio,
          |       sum(len(string_split(text, ' ')))::BIGINT AS total_tokens,
          |       round(sum(len(string_split(text, ' ')))::DOUBLE / count(*), 4) AS avg_doc_tokens
          |FROM documents GROUP BY source ORDER BY source""".stripMargin)),
    // connected-components clustering of the near-dup graph (min-label
    // propagation to fixpoint): one keeper per duplicate CLUSTER, not per
    // pair — near-dup is not transitive, so chains A–B–C must collapse to
    // one component. Oracle = DuckDB recursive CTE (transitive closure over
    // the same verified pair set).
    Query("d20_dedup_components", (s, dir) =>
      DedupFunctions.dedupComponents(docs(s, dir), 0.5),
      oracle = Some(
        """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |sh AS (SELECT doc_id,
          |              unnest(list_transform(range(len(ws) - 2),
          |                     i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS s
          |       FROM t WHERE len(ws) >= 3),
          |sig AS (SELECT doc_id,
          |               min(md5('0:' || s)) AS mh0, min(md5('1:' || s)) AS mh1,
          |               min(md5('2:' || s)) AS mh2, min(md5('3:' || s)) AS mh3
          |        FROM sh GROUP BY doc_id),
          |bands AS (SELECT doc_id, unnest([mh0, mh1, mh2, mh3]) AS band FROM sig),
          |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |          FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
          |u AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM documents),
          |pairs AS (
          |  SELECT doc_a, doc_b FROM (
          |    SELECT doc_a, doc_b,
          |           round(len(list_intersect(ua.ws, ub.ws))::DOUBLE
          |                 / (len(ua.ws) + len(ub.ws) - len(list_intersect(ua.ws, ub.ws))), 4) AS jaccard
          |    FROM cands JOIN u ua ON doc_a = ua.doc_id JOIN u ub ON doc_b = ub.doc_id) p
          |  WHERE jaccard >= 0.5),
          |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
          |          UNION ALL SELECT doc_b, doc_a FROM pairs),
          |reach AS (
          |  SELECT doc_id AS id, doc_id AS r FROM documents
          |  UNION
          |  SELECT reach.id, e.d AS r FROM reach JOIN edges e ON e.s = reach.r
          |)
          |SELECT id AS doc_id, min(r) AS component_id, min(r) = id AS is_keeper
          |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),
    // vocabulary induction: corpus-wide token top-k — the tokenizer-training
    // input table (one combining shuffle + TakeOrderedAndProject, no
    // single-partition window)
    Query("d22_vocab_topk", (s, dir) =>
      TextFunctions.vocabTopK(docs(s, dir), 100),
      oracle = Some(
        """SELECT token, count(*)::BIGINT AS n_occurrences
          |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
          |GROUP BY token
          |ORDER BY n_occurrences DESC, token LIMIT 100""".stripMargin)),
    // BPE merge-pair statistics: adjacent character pairs within tokens,
    // counted corpus-wide — the argmax input of the first BPE merge
    Query("d23_bpe_pairs", (s, dir) =>
      TextFunctions.bpePairCounts(docs(s, dir), 100),
      oracle = Some(
        """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
          |pairs AS (SELECT unnest(list_transform(range(1, len(token)),
          |                        i -> token[i:i+1])) AS pair
          |          FROM toks WHERE len(token) >= 2)
          |SELECT pair, count(*)::BIGINT AS n_occurrences
          |FROM pairs GROUP BY pair
          |ORDER BY n_occurrences DESC, pair LIMIT 100""".stripMargin)),
    // cross-document repeated-span statistics (Lee et al. 2021 exact
    // substring dedup signal): per doc, the fraction of 8-token shingle
    // positions whose shingle also occurs in another document — catches
    // boilerplate spans doc-level dedup misses. Digest-keyed throughout.
    Query("d25_crossdoc_spans", (s, dir) =>
      DedupFunctions.crossDocSpans(docs(s, dir), 8),
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |sh AS (SELECT doc_id,
          |              unnest(list_transform(range(len(ws) - 7),
          |                     i -> md5(array_to_string(ws[i+1:i+8], ' ')))) AS h
          |       FROM t WHERE len(ws) >= 8),
          |g AS (SELECT h, count(DISTINCT doc_id) AS nd FROM sh GROUP BY h)
          |SELECT sh.doc_id,
          |       count(*)::BIGINT AS n_shingles,
          |       sum(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_positions,
          |       round(sum(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
          |         AS dup_fraction
          |FROM sh JOIN g USING (h)
          |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin)),
    // the REMOVAL counterpart: duplicated 8-token spans are cut from every
    // doc except the span's owner (min doc_id), rewriting clean_text — the
    // Lee-et-al ExactSubstr rewrite at shingle granularity
    Query("d40_crossdoc_removal", (s, dir) =>
      DedupFunctions.crossDocRemoval(docs(s, dir), 8),
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |sh AS (SELECT doc_id, unnest(range(len(ws) - 7)) AS p, ws
          |       FROM t WHERE len(ws) >= 8),
          |s2 AS (SELECT doc_id, p,
          |              md5(array_to_string(ws[p+1:p+8], ' ')) AS h
          |       FROM sh),
          |g AS (SELECT h, min(doc_id) AS owner
          |      FROM (SELECT DISTINCT h, doc_id FROM s2)
          |      GROUP BY h HAVING count(*) >= 2),
          |rm AS (SELECT DISTINCT s2.doc_id, s2.p
          |       FROM s2 JOIN g USING (h) WHERE s2.doc_id <> g.owner),
          |cov AS (SELECT DISTINCT doc_id, ti FROM
          |         (SELECT doc_id, unnest(range(p, p + 8)) AS ti FROM rm)),
          |tok AS (SELECT doc_id, unnest(range(len(ws))) AS ti, ws FROM t),
          |tk AS (SELECT doc_id, ti, ws[ti+1] AS w FROM tok)
          |SELECT tk.doc_id,
          |       count(*)::BIGINT AS n_tokens,
          |       sum(CASE WHEN cov.ti IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
          |         AS n_removed,
          |       COALESCE(string_agg(CASE WHEN cov.ti IS NULL THEN tk.w END,
          |                           ' ' ORDER BY tk.ti), '') AS clean_text
          |FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.ti = cov.ti
          |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin)),
    // incremental dedup — the recurring-crawl shape: odd doc_ids play the
    // NEW batch, even doc_ids the standing corpus; the batch is anti-joined
    // against the standing digest set, then deduped within itself. Only
    // 16-byte digests cross the shuffle on either side.
    Query("d26_incremental_dedup", (s, dir) => {
      val d = docs(s, dir)
      DedupFunctions.incrementalDedup(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1))
    },
      oracle = Some(
        """WITH ex AS (SELECT DISTINCT md5(text) AS content_md5
          |            FROM documents WHERE doc_id % 2 = 0),
          |ba AS (SELECT doc_id, md5(text) AS content_md5
          |       FROM documents WHERE doc_id % 2 = 1)
          |SELECT min(ba.doc_id) AS doc_id, ba.content_md5
          |FROM ba LEFT JOIN ex ON ba.content_md5 = ex.content_md5
          |WHERE ex.content_md5 IS NULL
          |GROUP BY ba.content_md5 ORDER BY doc_id""".stripMargin)),
    // d26's two-tier production shape: a Bloom filter over the standing
    // digests answers "definitely novel" row-locally; only might-contain
    // rows pay the anti-join, and false positives resolve exactly there —
    // output is bit-identical to d26 (same oracle SQL).
    Query("d36_bloom_dedup", (s, dir) => {
      val d = docs(s, dir)
      DedupFunctions.bloomIncrementalDedup(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1))
    },
      // d36 is REQUIRED to produce byte-identical output to d26 (the Bloom
      // tier only prunes; exactness comes from the same anti-join)
      oracle = Some(
        """WITH ex AS (SELECT DISTINCT md5(text) AS content_md5
          |            FROM documents WHERE doc_id % 2 = 0),
          |ba AS (SELECT doc_id, md5(text) AS content_md5
          |       FROM documents WHERE doc_id % 2 = 1)
          |SELECT min(ba.doc_id) AS doc_id, ba.content_md5
          |FROM ba LEFT JOIN ex ON ba.content_md5 = ex.content_md5
          |WHERE ex.content_md5 IS NULL
          |GROUP BY ba.content_md5 ORDER BY doc_id""".stripMargin)),
    // deterministic corpus split (train/val/test by hashed doc key): stable
    // under recrawl/reshuffle/engine — md5 prefix vs cumulative hex
    // thresholds shared with the oracle SQL; row-local, zero shuffle.
    Query("d39_hash_split", (s, dir) =>
      TextFunctions.hashSplit(docs(s, dir),
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))),
      oracle = Some {
        val ths = TextFunctions.hashSplitThresholds(
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        val cases = ths.map { case (n, t) =>
          s"WHEN substr(h, 1, 8) < '$t' THEN '$n'" }.mkString(" ")
        s"""WITH t AS (SELECT doc_id,
           |                  md5(doc_id || ':graft-split-v1') AS h
           |           FROM documents)
           |SELECT doc_id, substr(h, 1, 8) AS bucket,
           |       CASE $cases ELSE '${ths.last._1}' END AS split
           |FROM t ORDER BY doc_id""".stripMargin
      }),
    // robots.txt gate, relational recast (RFC 9309 §2.2.2 over prefix
    // rules): URLs planted from documents hit a shared per-host rule table
    // (RobotsFunctions.d38Rules — the SAME Seq feeds the oracle VALUES
    // table); longest match wins, allow wins ties, no match allows. Host
    // and path come through the codegen'd url kernels.
    Query("d38_robots_filter", (s, dir) => {
      import s.implicits._
      val gx = graft.expressions.GraftExpressions
      val path = when(col("doc_id") % 5 === 0, concat(lit("/pub/a"), col("doc_id")))
        .when(col("doc_id") % 5 === 1, concat(lit("/private/p"), col("doc_id")))
        .when(col("doc_id") % 5 === 2, concat(lit("/private/archive/x"), col("doc_id")))
        .when(col("doc_id") % 5 === 3, concat(lit("/tmp/t"), col("doc_id")))
        .otherwise(concat(lit("/pub/data/d"), col("doc_id")))
      val urls = docs(s, dir)
        .select(col("doc_id"),
          concat(lit("https://"), col("source"), lit(".example.org"), path).as("url"))
        .select(col("doc_id"), col("url"),
          gx.urlHost(col("url")).as("host"), gx.urlPath(col("url")).as("path"))
      val rules = RobotsFunctions.d38Rules.toDF("host", "prefix", "allow")
      RobotsFunctions.robotsFilter(urls, broadcast(rules))
    },
      oracle = Some {
        val esc = (s: String) => s.replace("'", "''")
        val values = RobotsFunctions.d38Rules
          .map { case (h, p, a) => s"('${esc(h)}','${esc(p)}',$a)" }.mkString(", ")
        s"""WITH rules(host, prefix, allow) AS (SELECT * FROM (VALUES $values) v),
           |u AS (SELECT doc_id,
           |             source || '.example.org' AS host,
           |             CASE doc_id % 5
           |               WHEN 0 THEN '/pub/a' || doc_id
           |               WHEN 1 THEN '/private/p' || doc_id
           |               WHEN 2 THEN '/private/archive/x' || doc_id
           |               WHEN 3 THEN '/tmp/t' || doc_id
           |               ELSE '/pub/data/d' || doc_id END AS path
           |      FROM documents),
           |u2 AS (SELECT doc_id, host, path,
           |              'https://' || host || path AS url FROM u),
           |j AS (SELECT u2.doc_id, len(r.prefix) AS l, r.allow
           |      FROM u2 JOIN rules r
           |        ON u2.host = r.host AND starts_with(u2.path, r.prefix)),
           |b AS (SELECT doc_id, max(l) AS ml FROM j GROUP BY doc_id),
           |v AS (SELECT j.doc_id, max(CASE WHEN j.allow THEN 1 ELSE 0 END) = 1 AS a
           |      FROM j JOIN b ON j.doc_id = b.doc_id AND j.l = b.ml
           |      GROUP BY j.doc_id)
           |SELECT u2.doc_id, u2.url, COALESCE(v.a, TRUE) AS allowed
           |FROM u2 LEFT JOIN v USING (doc_id)
           |ORDER BY u2.doc_id""".stripMargin
      }),
    // crawl-politeness scheduler — per-host fetch slots at the host's
    // delay, host-affine worker shards (md5), per-host makespan; the step
    // between the x26 frontier and the fetcher
    Query("d49_crawl_schedule", (s, dir) => {
      val host = concat(col("source"), lit(".example.org"))
      val urls = docs(s, dir).select(
        host.as("host"),
        concat(lit("https://"), host, lit("/p"),
          col("doc_id").cast("string")).as("url"),
        (lit(250L) * (substring(col("source"), 4, 10).cast("long") % 8 + 1))
          .as("delay_ms"))
      RobotsFunctions.crawlSchedule(urls, workers = 4)
    },
      oracle = Some(
        """WITH u AS (SELECT source || '.example.org' AS host,
          |                  'https://' || source || '.example.org/p'
          |                    || CAST(doc_id AS VARCHAR) AS url,
          |                  (250 * (CAST(substr(source, 4) AS BIGINT) % 8 + 1))
          |                    ::BIGINT AS delay_ms
          |           FROM documents),
          |s AS (SELECT host, url, delay_ms,
          |             (row_number() OVER (PARTITION BY host ORDER BY url) - 1)
          |               ::BIGINT AS slot,
          |             CAST(('0x' || substr(md5(host), 1, 8)) AS BIGINT) % 4
          |               AS worker
          |      FROM u)
          |SELECT host, url, delay_ms, slot, worker,
          |       (slot * delay_ms)::BIGINT AS fetch_at_ms,
          |       (max(slot * delay_ms) OVER (PARTITION BY host))::BIGINT
          |         AS host_makespan_ms
          |FROM s ORDER BY host, slot""".stripMargin)),
    // registrable-domain extraction (PSL algorithm) — hosts synthesized to
    // cover every rule shape: multi-label suffix (co.uk, ac.jp), wildcard
    // (*.ck), exception (!www.ck), host == suffix (github.io → NULL
    // registrable), and the implicit `*` fallback (.xyz)
    Query("d50_registrable_domain", (s, dir) => {
      val host = expr(d50HostCaseSql)
      DomainFunctions.registrableDomain(
        docs(s, dir).select(col("doc_id"), host.as("host")))
    },
      oracle = Some(
        (d50OracleBody + "SELECT * FROM sel ORDER BY doc_id"))),
    // per-domain contribution cap (8 pages) over the SAME host synthesis —
    // source ≡ doc_id (mod 20) correlates with the case selector (mod 8),
    // so each (case, source) domain holds ~12 docs and the cap genuinely
    // trims EVERY domain (204/500 dropped at sf0.001), hardest on the
    // www.ck / suffix-only github.io hot keys (~31 captures each)
    Query("d53_domain_cap", (s, dir) => {
      val host = expr(d50HostCaseSql)
      DomainFunctions.domainCap(
        docs(s, dir).select(col("doc_id"), host.as("host")), maxPerDomain = 8)
    },
      oracle = Some(
        (d50OracleBody +
          """, keyed AS (SELECT doc_id,
            |    coalesce(registrable, host) AS domain_key FROM sel),
            |r AS (SELECT doc_id, domain_key,
            |        row_number() OVER (PARTITION BY domain_key
            |                           ORDER BY doc_id)::BIGINT AS site_rank
            |      FROM keyed)
            |SELECT doc_id, domain_key, site_rank,
            |       (site_rank <= 8) AS kept
            |FROM r ORDER BY doc_id""".stripMargin))),
    // site-template line removal (oracle-checkable recast of x23): the
    // documents corpus has no repeated lines, so the sitewide chrome is
    // PLANTED — a nav and a footer line identical across every doc of a
    // source (frequency 1 >= 1/2 → removed) plus a promo line on every 4th
    // doc WITHIN each source (source = doc_id % 20 in this corpus, so
    // `doc_id div 20` enumerates a source's members; 1/4 < 1/2 → kept in
    // every source). Original text lines are unique → kept.
    Query("d37_template_boiler", (s, dir) => {
      val planted = concat(col("text"),
        lit("\nnav home news archive contact "), col("source"),
        lit("\nfooter terms privacy copyright "), col("source"),
        when(expr("(doc_id div 20) % 4") === 0,
          concat(lit("\npromo subscribe banner "), col("source")))
          .otherwise(lit("")))
      TextFunctions.templateLines(
        docs(s, dir).withColumn("text", planted), num = 1, den = 2)
    },
      oracle = Some(
        """WITH planted AS (
          |  SELECT doc_id, source,
          |         text || chr(10) || 'nav home news archive contact ' || source
          |              || chr(10) || 'footer terms privacy copyright ' || source
          |              || CASE WHEN (doc_id // 20) % 4 = 0
          |                      THEN chr(10) || 'promo subscribe banner ' || source
          |                      ELSE '' END AS t
          |  FROM documents),
          |t AS (SELECT doc_id, source, string_split(t, chr(10)) AS ls FROM planted),
          |l AS (SELECT doc_id, source,
          |             unnest(range(0, len(ls)))::BIGINT AS i, ls
          |      FROM t),
          |l2 AS (SELECT doc_id, source, i, ls[i + 1] AS line,
          |              md5(ls[i + 1]) AS h
          |       FROM l),
          |sz AS (SELECT source, count(DISTINCT doc_id) AS n_docs
          |       FROM l2 GROUP BY source),
          |b AS (SELECT l2.source, l2.h
          |      FROM l2 JOIN sz USING (source)
          |      GROUP BY l2.source, l2.h, sz.n_docs
          |      HAVING sz.n_docs >= 2
          |         AND count(DISTINCT l2.doc_id) * 2 >= sz.n_docs * 1)
          |SELECT l2.doc_id,
          |       count(*)::BIGINT AS n_lines,
          |       sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
          |       COALESCE(string_agg(CASE WHEN b.h IS NULL THEN l2.line END,
          |                           chr(10) ORDER BY l2.i), '') AS clean_text
          |FROM l2 LEFT JOIN b ON l2.source = b.source AND l2.h = b.h
          |GROUP BY l2.doc_id ORDER BY l2.doc_id""".stripMargin)),
    // dictionary hit-rate (C4-style OOV-fraction quality signal): the
    // dictionary is the corpus's own top-500 tokens — top-K capped, so the
    // probe side broadcasts regardless of vocabulary growth.
    Query("d27_dict_hit_rate", (s, dir) =>
      TextFunctions.dictionaryHitRate(docs(s, dir), 500),
      oracle = Some(
        """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          |              FROM documents),
          |d AS (SELECT token FROM (SELECT token, count(*) AS c FROM toks
          |                         GROUP BY token ORDER BY c DESC, token
          |                         LIMIT 500) z),
          |h AS (SELECT doc_id, count(*)::BIGINT AS n_in_dict
          |      FROM toks JOIN d USING (token) GROUP BY doc_id),
          |t AS (SELECT doc_id, count(*)::BIGINT AS n_tokens
          |      FROM toks GROUP BY doc_id)
          |SELECT t.doc_id, t.n_tokens,
          |       coalesce(h.n_in_dict, 0)::BIGINT AS n_in_dict,
          |       round((t.n_tokens - coalesce(h.n_in_dict, 0))::DOUBLE
          |             / t.n_tokens, 4) AS oov_fraction
          |FROM t LEFT JOIN h USING (doc_id) ORDER BY t.doc_id""".stripMargin)),
    // exact per-source length quantiles (type-1/discrete): the distribution
    // report behind Gopher/C4 threshold picking — integer-exact end to end.
    Query("d35_quantiles", (s, dir) =>
      TextFunctions.lengthQuantiles(docs(s, dir)),
      oracle = Some(
        """WITH c AS (SELECT source, len(string_split(text, ' '))::BIGINT AS len,
          |                  count(*)::BIGINT AS c
          |           FROM documents GROUP BY source, len),
          |cum AS (SELECT source, len,
          |               sum(c) OVER (PARTITION BY source ORDER BY len
          |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |               sum(c) OVER (PARTITION BY source) AS n
          |        FROM c)
          |SELECT source, max(n)::BIGINT AS n_docs,
          |       min(CASE WHEN cum >= ceil(0.5::DOUBLE * n) THEN len END)::BIGINT AS p50,
          |       min(CASE WHEN cum >= ceil(0.9::DOUBLE * n) THEN len END)::BIGINT AS p90,
          |       min(CASE WHEN cum >= ceil(0.99::DOUBLE * n) THEN len END)::BIGINT AS p99
          |FROM cum GROUP BY source ORDER BY source""".stripMargin)),
    // BM25 keyword retrieval — the corpus-probe/search capability: term
    // filter pushed to the scan, |query|-row df table broadcast, term-order
    // score folds so raw doubles oracle-match without rounding.
    Query("d33_bm25", (s, dir) =>
      TextFunctions.bm25(docs(s, dir), "spark filter join", k = 10),
      oracle = Some(
        """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          |stats AS (SELECT count(*)::BIGINT AS n, sum(len(w))::BIGINT AS tot FROM ws),
          |toks AS (SELECT doc_id, unnest(w) AS t FROM ws),
          |tf AS (SELECT doc_id, t, count(*)::BIGINT AS tf FROM toks
          |       WHERE t IN ('spark', 'filter', 'join') GROUP BY doc_id, t),
          |dft AS (SELECT t, count(DISTINCT doc_id)::BIGINT AS df FROM tf GROUP BY t),
          |lens AS (SELECT doc_id, len(w)::BIGINT AS len FROM ws),
          |sc AS (SELECT tf.doc_id, tf.t,
          |         ln(((SELECT n FROM stats)::DOUBLE - dft.df + 0.5)
          |            / (dft.df + 0.5) + 1.0)
          |         * (tf.tf * (1.2::DOUBLE + 1))
          |         / (tf.tf + 1.2::DOUBLE * ((1 - 0.75::DOUBLE)
          |            + 0.75::DOUBLE * lens.len
          |              / ((SELECT tot FROM stats)::DOUBLE / (SELECT n FROM stats))))
          |           AS s
          |       FROM tf JOIN dft USING (t) JOIN lens USING (doc_id)),
          |pd AS (SELECT doc_id, round(list_sum(list(s ORDER BY t)), 4) AS score
          |       FROM sc GROUP BY doc_id),
          |r AS (SELECT row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS rank,
          |             doc_id, score
          |      FROM pd)
          |SELECT rank, doc_id, score FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin)),
    // multi-dimensional corpus scorecard: (source, lang) + per-source and
    // grand totals via ROLLUP in ONE shuffle (grouping-set expansion is
    // map-side); exact-integer measures only.
    Query("d34_rollup", (s, dir) =>
      TextFunctions.rollupScorecard(docs(s, dir)),
      oracle = Some(
        """SELECT source, lang, count(*)::BIGINT AS n_docs,
          |       sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
          |       grouping(source, lang)::BIGINT AS gid
          |FROM documents GROUP BY ROLLUP (source, lang)
          |ORDER BY gid, source, lang""".stripMargin)),
    // PageRank over the event-type navigation graph (the clickstream Markov
    // graph): 3 damped power iterations with source-ordered contribution
    // folds so raw-double ranks hash-match the oracle's unrolled CTEs.
    Query("d32_pagerank", (s, dir) =>
      GraphFunctions.pageRank(GraphFunctions.eventTransitions(events(s, dir)),
        iters = 3, damping = 0.85),
      oracle = Some(
        """WITH tr AS (SELECT user_id, ts, event_id, event_type,
          |                   lag(event_type) OVER (PARTITION BY user_id
          |                       ORDER BY ts, event_id) AS prev
          |            FROM events),
          |e0 AS (SELECT prev AS src, event_type AS dst, count(*)::BIGINT AS cnt
          |       FROM tr WHERE prev IS NOT NULL GROUP BY prev, event_type),
          |nodes AS (SELECT DISTINCT node
          |          FROM (SELECT src AS node FROM e0
          |                UNION ALL SELECT dst FROM e0)),
          |nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
          |ow AS (SELECT src, sum(cnt)::BIGINT AS w FROM e0 GROUP BY src),
          |e AS (SELECT e0.src, e0.dst, e0.cnt::DOUBLE / ow.w AS p
          |      FROM e0 JOIN ow USING (src)),
          |r0 AS (SELECT node, 1::DOUBLE / (SELECT n FROM nn) AS rank FROM nodes),
          |c1 AS (SELECT e.dst, e.src, r0.rank * e.p AS c
          |       FROM e JOIN r0 ON r0.node = e.src),
          |s1 AS (SELECT dst, list_sum(list(c ORDER BY src)) AS s FROM c1 GROUP BY dst),
          |r1 AS (SELECT nodes.node,
          |              (1::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
          |              + 0.85::DOUBLE * coalesce(s1.s, 0::DOUBLE) AS rank
          |       FROM nodes LEFT JOIN s1 ON s1.dst = nodes.node),
          |c2 AS (SELECT e.dst, e.src, r1.rank * e.p AS c
          |       FROM e JOIN r1 ON r1.node = e.src),
          |s2 AS (SELECT dst, list_sum(list(c ORDER BY src)) AS s FROM c2 GROUP BY dst),
          |r2 AS (SELECT nodes.node,
          |              (1::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
          |              + 0.85::DOUBLE * coalesce(s2.s, 0::DOUBLE) AS rank
          |       FROM nodes LEFT JOIN s2 ON s2.dst = nodes.node),
          |c3 AS (SELECT e.dst, e.src, r2.rank * e.p AS c
          |       FROM e JOIN r2 ON r2.node = e.src),
          |s3 AS (SELECT dst, list_sum(list(c ORDER BY src)) AS s FROM c3 GROUP BY dst),
          |r3 AS (SELECT nodes.node,
          |              (1::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
          |              + 0.85::DOUBLE * coalesce(s3.s, 0::DOUBLE) AS rank
          |       FROM nodes LEFT JOIN s3 ON s3.dst = nodes.node)
          |SELECT node, rank FROM r3 ORDER BY node""".stripMargin)),
    // CCNet perplexity filter: add-one-smoothed top-100 unigram LM induced
    // from the corpus itself (production swaps in frozen reference counts);
    // row-local positional fold keeps the float sum deterministic.
    Query("d30_perplexity", (s, dir) =>
      TextFunctions.unigramPerplexity(docs(s, dir), vocabK = 100),
      oracle = Some(
        """WITH toks AS (SELECT doc_id,
          |                     unnest(string_split(text, ' ')) AS token,
          |                     generate_subscripts(string_split(text, ' '), 1) AS i
          |              FROM documents),
          |cnt AS (SELECT token, count(*)::BIGINT AS c FROM toks GROUP BY token),
          |top AS (SELECT token, c FROM cnt ORDER BY c DESC, token LIMIT 100),
          |tot AS (SELECT sum(c)::BIGINT AS t FROM cnt),
          |lp AS (SELECT toks.doc_id, toks.i,
          |              ln((coalesce(top.c, 0) + 1)::DOUBLE
          |                 / ((SELECT t FROM tot) + 101)::DOUBLE) AS lnp
          |       FROM toks LEFT JOIN top USING (token))
          |SELECT doc_id, count(*)::BIGINT AS n_tokens,
          |       round(exp(-list_sum(list(lnp ORDER BY i)) / count(*)), 4)
          |         AS perplexity
          |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // fastText-style hashed linear quality gate: md5-initialized weights
    // (labeled stand-in for a trained table), exact integer margin.
    Query("d31_quality_model", (s, dir) =>
      TextFunctions.hashedLinearScore(docs(s, dir)),
      oracle = Some(
        """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
          |              FROM documents),
          |w AS (SELECT doc_id,
          |             (list_sum(list_transform(range(8), i ->
          |                (strpos('0123456789abcdef', substr(md5(t), i+1, 1)) - 1)::BIGINT
          |                * (1::BIGINT << (4 * (7 - i))))) % 2001 - 1000)::BIGINT AS wt
          |      FROM toks)
          |SELECT doc_id, count(*)::BIGINT AS n_tokens,
          |       sum(wt)::BIGINT AS margin_raw,
          |       (sum(wt) >= 0) AS keep
          |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // token-offset shard packing: the corpus laid out into 1024-token
    // training shards via a two-level distributed prefix sum (bucket
    // partials + tiny bucket-offset table + per-bucket parallel windows) —
    // never a single-partition window over the doc table. bucketDocs=64 so
    // the sandbox corpus exercises multiple buckets.
    Query("d29_shard_pack", (s, dir) =>
      TextFunctions.shardPack(docs(s, dir), shardTokens = 1024L, bucketDocs = 64L),
      oracle = Some(
        """WITH t AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
          |           FROM documents),
          |o AS (SELECT doc_id, n_tokens,
          |             COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
          |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |                      0)::BIGINT AS start_tok
          |      FROM t)
          |SELECT doc_id, n_tokens, start_tok,
          |       (start_tok // 1024)::BIGINT AS shard_id
          |FROM o ORDER BY doc_id""".stripMargin)),
    // concat-and-chunk sequence packing: 128-token sequences so documents
    // genuinely straddle boundaries (multi-row explode per doc)
    Query("d51_seq_pack", (s, dir) =>
      TextFunctions.seqPack(docs(s, dir), seqLen = 128L, bucketDocs = 64L),
      oracle = Some(
        """WITH t AS (SELECT doc_id,
          |                  len(string_split(text, ' '))::BIGINT AS n_tokens
          |           FROM documents),
          |o AS (SELECT doc_id, n_tokens,
          |             COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
          |                      ROWS BETWEEN UNBOUNDED PRECEDING
          |                      AND 1 PRECEDING), 0)::BIGINT AS start_tok
          |      FROM t),
          |e AS (SELECT doc_id, n_tokens, start_tok,
          |             unnest(generate_series(start_tok // 128,
          |               (start_tok + n_tokens - 1) // 128)) AS seq_id
          |      FROM o),
          |g AS (SELECT doc_id, seq_id, start_tok, n_tokens,
          |             greatest(start_tok, seq_id * 128) AS seg_start FROM e)
          |SELECT doc_id, seq_id::BIGINT AS seq_id,
          |       (seg_start - seq_id * 128)::BIGINT AS start_in_seq,
          |       (least(start_tok + n_tokens, (seq_id + 1) * 128)
          |         - seg_start)::BIGINT AS n_in_seq,
          |       (seg_start - start_tok)::BIGINT AS doc_tok_off
          |FROM g ORDER BY doc_id, seq_id""".stripMargin)),
    // C4 repeated-span REMOVAL (Raffel et al. 2020 §2.2): segments occurring
    // in >= 2 distinct docs are dropped from the text itself — the rewrite
    // counterpart of d25's statistics. 4-token segments stand in for C4's
    // three-sentence spans (this corpus has no sentence boundaries).
    Query("d28_line_dedup", (s, dir) =>
      DedupFunctions.lineDedup(docs(s, dir), segTokens = 4, minDocs = 2),
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |seg AS (SELECT doc_id,
          |               unnest(range(0, CAST(ceil(len(ws)::DOUBLE / 4) AS INT))) AS i,
          |               ws
          |        FROM t),
          |s2 AS (SELECT doc_id, i,
          |              array_to_string(ws[i*4+1 : i*4+4], ' ') AS st,
          |              md5(array_to_string(ws[i*4+1 : i*4+4], ' ')) AS h
          |       FROM seg),
          |g AS (SELECT h FROM s2 GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
          |SELECT s2.doc_id,
          |       count(*)::BIGINT AS n_segs,
          |       sum(CASE WHEN g.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_removed,
          |       COALESCE(string_agg(CASE WHEN g.h IS NULL THEN st END, ' '
          |                           ORDER BY s2.i), '') AS clean_text
          |FROM s2 LEFT JOIN g ON s2.h = g.h
          |GROUP BY s2.doc_id ORDER BY s2.doc_id""".stripMargin)),
    // Unicode NFC normalization — the canonical-composition cleanup before
    // any hashing/dedup (two byte sequences rendering identically must dedup
    // together). The ASCII corpus is already-NFC, so combining sequences are
    // PLANTED (e+U+0301, A+U+030A) in both engines; JDK Normalizer must
    // agree with DuckDB's utf8proc bit-for-bit (lengths shrink by 2, md5 of
    // the composed text matches). ascii_identity pins the no-op fast path.
    // latest-snapshot-per-url — the recrawl shape of the (url, warc_ts)
    // input contract: urls and capture times are synthesized deterministically
    // from doc_id (the d26 batch-split idiom), ~40 pages per source with
    // multiple captures each; keep the newest, ties keep min doc_id
    Query("d42_snapshot_latest", (s, dir) =>
      DedupFunctions.latestSnapshot(docs(s, dir).select(
        col("doc_id"),
        concat(col("source"), lit("/page"),
          (col("doc_id") % 40).cast("string")).as("url"),
        expr("timestampadd(HOUR, CAST(doc_id * 37 % 1000 AS INT), " +
          "timestamp'2024-01-01 00:00:00')").as("warc_ts"),
        col("text"))),
      oracle = Some(
        """WITH s AS (SELECT doc_id,
          |                  source || '/page' || CAST(doc_id % 40 AS VARCHAR) AS url,
          |                  TIMESTAMP '2024-01-01 00:00:00'
          |                    + INTERVAL (CAST(doc_id * 37 % 1000 AS INT)) HOUR AS warc_ts,
          |                  text
          |           FROM documents),
          |r AS (SELECT s.*, row_number() OVER
          |        (PARTITION BY url ORDER BY warc_ts DESC, doc_id ASC) AS rn
          |      FROM s),
          |n AS (SELECT url, count(*)::BIGINT AS n_snapshots FROM s GROUP BY url)
          |SELECT r.url, n.n_snapshots, r.doc_id::BIGINT AS kept_doc_id,
          |       r.warc_ts AS kept_ts, md5(r.text) AS kept_md5
          |FROM r JOIN n USING (url) WHERE rn = 1 ORDER BY r.url""".stripMargin)),
    // WARC revisit records over the d42 recrawl shape — payload content is
    // keyed (url, revision bucket): the page changes as capture hours
    // advance through 4 revision epochs, so captures within an epoch are
    // IDENTICAL re-fetches and must become revisit records
    Query("d52_revisit_records", (s, dir) =>
      DedupFunctions.revisitRecords(docs(s, dir).select(
        col("doc_id"),
        concat(col("source"), lit("/page"),
          (col("doc_id") % 40).cast("string")).as("url"),
        expr("timestampadd(HOUR, CAST(doc_id * 37 % 1000 AS INT), " +
          "timestamp'2024-01-01 00:00:00')").as("warc_ts"),
        concat(col("source"), lit("/page"),
          (col("doc_id") % 40).cast("string"), lit("#rev"),
          expr("(doc_id * 37 % 1000) div 250").cast("string")).as("text"))),
      oracle = Some(
        """WITH s AS (SELECT doc_id,
          |                  source || '/page' || CAST(doc_id % 40 AS VARCHAR) AS url,
          |                  TIMESTAMP '2024-01-01 00:00:00'
          |                    + INTERVAL (CAST(doc_id * 37 % 1000 AS INT)) HOUR AS warc_ts,
          |                  md5(source || '/page' || CAST(doc_id % 40 AS VARCHAR)
          |                      || '#rev' || CAST((doc_id * 37 % 1000) // 250 AS VARCHAR))
          |                    AS payload_digest
          |           FROM documents),
          |r AS (SELECT *,
          |             row_number() OVER (PARTITION BY url, payload_digest
          |                                ORDER BY warc_ts, doc_id) AS rn,
          |             first_value(warc_ts) OVER (PARTITION BY url, payload_digest
          |                                ORDER BY warc_ts, doc_id) AS first_ts
          |      FROM s)
          |SELECT doc_id, url, warc_ts,
          |       CASE WHEN rn = 1 THEN 'response' ELSE 'revisit' END AS warc_type,
          |       payload_digest,
          |       CASE WHEN rn > 1 THEN first_ts END AS refers_to_ts
          |FROM r ORDER BY url, warc_ts, doc_id""".stripMargin)),
    // adaptive-recrawl priority over the d52 capture synthesis, except
    // pages 0-7 of each source change on EVERY capture (rev = doc_id) —
    // those flag hot; the epoch-revisioned rest (~2-4 versions over ~12
    // captures) stay stable, so both verdicts genuinely occur
    Query("d54_recrawl_priority", (s, dir) =>
      RobotsFunctions.recrawlPriority(docs(s, dir).select(
        concat(col("source"), lit("/page"),
          (col("doc_id") % 40).cast("string")).as("url"),
        expr("timestampadd(HOUR, CAST(doc_id * 37 % 1000 AS INT), " +
          "timestamp'2024-01-01 00:00:00')").as("warc_ts"),
        concat(col("source"), lit("/page"),
          (col("doc_id") % 40).cast("string"), lit("#rev"),
          expr("CASE WHEN doc_id % 40 < 8 THEN doc_id " +
            "ELSE (doc_id * 37 % 1000) div 250 END").cast("string"))
          .as("text"))),
      oracle = Some(
        """WITH s AS (SELECT source || '/page' || CAST(doc_id % 40 AS VARCHAR) AS url,
          |                  TIMESTAMP '2024-01-01 00:00:00'
          |                    + INTERVAL (CAST(doc_id * 37 % 1000 AS INT)) HOUR AS warc_ts,
          |                  md5(source || '/page' || CAST(doc_id % 40 AS VARCHAR)
          |                      || '#rev' || CAST(CASE WHEN doc_id % 40 < 8
          |                        THEN doc_id
          |                        ELSE (doc_id * 37 % 1000) // 250 END AS VARCHAR))
          |                    AS digest
          |           FROM documents),
          |v AS (SELECT url, digest, count(*)::BIGINT AS n,
          |             min(warc_ts) AS lo, max(warc_ts) AS hi
          |      FROM s GROUP BY url, digest),
          |u AS (SELECT url, sum(n)::BIGINT AS n_captures,
          |             count(*)::BIGINT AS n_versions,
          |             min(lo) AS first_ts, max(hi) AS last_ts
          |      FROM v GROUP BY url)
          |SELECT url, n_captures, n_versions, first_ts, last_ts,
          |       (2 * (n_versions - 1) >= n_captures - 1) AS hot
          |FROM u ORDER BY url""".stripMargin)),
    // encoding-error/mojibake gate — the corpus is clean UTF-8, so damage is
    // PLANTED deterministically per doc_id (the d21/d24 fixture idiom):
    // replacement chars on %5 docs, a C0 bell on %7, a C1 byte on %11
    Query("d41_encoding_errors", (s, dir) =>
      TextFunctions.encodingErrorSignal(docs(s, dir), t =>
        concat(t,
          when(col("doc_id") % 5 === 0,
            concat(lit(" "), lit("\ufffd\ufffd\ufffd")
              .substr(lit(1), (col("doc_id") % 3 + 1).cast("int"))))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit("\u0007")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit("\u0092")).otherwise(lit("")))),
      oracle = Some {
        val pat = graft.functions.TextFunctions.badCharPattern
        s"""WITH p AS (SELECT doc_id, text
           |  || CASE WHEN doc_id % 5 = 0
           |          THEN ' ' || repeat(chr(65533), CAST(doc_id % 3 + 1 AS INT))
           |          ELSE '' END
           |  || CASE WHEN doc_id % 7 = 0 THEN chr(7) ELSE '' END
           |  || CASE WHEN doc_id % 11 = 0 THEN chr(146) ELSE '' END AS t
           |  FROM documents)
           |SELECT doc_id,
           |  length(t)::BIGINT AS n_chars,
           |  (length(t) - length(regexp_replace(t, '$pat', '', 'g')))::BIGINT
           |    AS n_bad,
           |  round((length(t) - length(regexp_replace(t, '$pat', '', 'g')))::DOUBLE
           |        / greatest(length(t), 1), 6) AS bad_fraction,
           |  (length(t) - length(regexp_replace(t, '$pat', '', 'g'))) = 0 AS keep
           |FROM p ORDER BY doc_id""".stripMargin
      }),
    Query("d24_nfc", (s, dir) => {
      val planted = concat(col("text"), lit(" cafe\u0301 A\u030A"))  // decomposed: e+COMBINING ACUTE, A+COMBINING RING
      val n = graft.expressions.GraftExpressions.nfc(planted)
      docs(s, dir).select(
        col("doc_id"),
        length(planted).cast("long").as("n_chars_raw"),
        length(n).cast("long").as("n_chars_nfc"),
        (graft.expressions.GraftExpressions.nfc(col("text")) === col("text"))
          .as("ascii_identity"),
        md5(n.cast("binary")).as("nfc_md5"))
        .orderBy("doc_id")
    },
      oracle = Some(
        """SELECT doc_id,
          |       length(text || ' cafe' || chr(769) || ' A' || chr(778))::BIGINT AS n_chars_raw,
          |       length(nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778)))::BIGINT AS n_chars_nfc,
          |       nfc_normalize(text) = text AS ascii_identity,
          |       md5(nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778))) AS nfc_md5
          |FROM documents ORDER BY doc_id""".stripMargin)),
    // PII redaction — the scrub pass of a public web-corpus build (emails →
    // <EMAIL>, phones → <PHONE>, IPv4 → <IP>, sequentially). The corpus
    // text is synthetic words with no PII, so the fixture PLANTS one of each
    // per document, composed deterministically from doc_id in BOTH engines
    // (the d10b planted-twin recipe) — counts are guaranteed nonzero and the
    // redacted-text md5 must match bit-for-bit. Pure regexp_replace chain:
    // codegen'd, zero shuffle, RE2-compatible patterns (d13 precedent).
    Query("d21_pii_redact", (s, dir) =>
      TextFunctions.piiRedact(docs(s, dir), t =>
        concat(t,
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@site"), (col("doc_id") % 7).cast("string"),
          lit(".example.com tel 555-"),
          (col("doc_id") % 900 + 100).cast("string"), lit("-"),
          (col("doc_id") % 9000 + 1000).cast("string"),
          lit(" from 10."),
          (col("doc_id") % 256).cast("string"), lit("."),
          ((col("doc_id") * 7) % 256).cast("string"), lit("."),
          (col("doc_id") % 250).cast("string"))),
      oracle = Some {
        val e = graft.functions.TextFunctions.emailPattern
        val p = graft.functions.TextFunctions.phonePattern
        val i = graft.functions.TextFunctions.ipPattern
        s"""WITH planted AS (
           |  SELECT doc_id,
           |         text || ' contact user' || doc_id || '@site' || (doc_id % 7)
           |              || '.example.com tel 555-' || (doc_id % 900 + 100)
           |              || '-' || (doc_id % 9000 + 1000)
           |              || ' from 10.' || (doc_id % 256) || '.'
           |              || ((doc_id * 7) % 256) || '.' || (doc_id % 250) AS t0
           |  FROM documents),
           |s1 AS (SELECT doc_id, t0, regexp_replace(t0, '$e', '<EMAIL>', 'g') AS t1 FROM planted),
           |s2 AS (SELECT doc_id, t0, t1, regexp_replace(t1, '$p', '<PHONE>', 'g') AS t2 FROM s1),
           |s3 AS (SELECT doc_id, t0, t1, t2, regexp_replace(t2, '$i', '<IP>', 'g') AS t3 FROM s2)
           |SELECT doc_id,
           |       len(regexp_extract_all(t0, '$e'))::BIGINT AS n_emails,
           |       len(regexp_extract_all(t1, '$p'))::BIGINT AS n_phones,
           |       len(regexp_extract_all(t2, '$i'))::BIGINT AS n_ips,
           |       md5(t3) AS redacted_md5
           |FROM s3 ORDER BY doc_id""".stripMargin
      }),
    // the FULL corpus-construction pipeline, end-to-end ORACLE-CHECKED (x13
    // is the extraction-fed composition, rows-only; this one runs over the
    // documents table so every stage is SQL-expressible): quality gate →
    // Gopher repetition gate → exact dedup → MinHash-LSH + Jaccard near-dup
    // removal → 4-gram benchmark decontamination → deterministic mixture
    // sampling → 64/48 token windows. One DuckDB query replays the whole
    // chain and the window set must hash-match bit-for-bit.
    Query("d18_corpus_pipeline", (s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") < 20)
      val corpus = d.filter(col("doc_id") >= 20)
      val gateIds = TextFunctions.tokenRepetition(corpus)
        .filter(col("n_tokens") >= 5 && col("top_token_frac") <= 0.2)
        .select("doc_id")
      val gated = corpus.join(gateIds, Seq("doc_id"))
      val wDedup = Window.partitionBy(md5(col("text").cast("binary")))
        .orderBy(col("doc_id"))
      // localCheckpoint at each stage boundary: every stage's output is
      // referenced several times by the next (LSH signatures + band join +
      // token-set join + anti-join; gram join + anti-join; sample join) and
      // without materialization each reference re-runs the whole upstream
      // chain (x13's documented pattern — measured 11.5 s → ~4 s at sf0.1).
      // This is the in-query stand-in for what a production corpus build
      // does anyway: write each stage's table before the next reads it.
      val exact = gated.withColumn("rn", row_number().over(wDedup))
        .filter(col("rn") === 1).drop("rn")
        .localCheckpoint()
      val nearDup = DedupFunctions.jaccardPairs(exact, 0.9)
        .select(col("doc_b").as("doc_id"))
      val deduped = exact.join(nearDup, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val contaminated = DedupFunctions.contamination(deduped, bench, n = 4)
        .filter(col("n_overlap") > 0).select("doc_id")
      val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val sampled = clean.join(
        TextFunctions.mixtureSample(clean, mixtureRates)
          .filter(col("keep")).select("doc_id"), Seq("doc_id"))
      TextFunctions.tokenWindows(sampled, window = 64, stride = 48)
    },
      oracle = Some {
        val cases = mixtureRates.map { case (lang, r) =>
          mixtureCaseSql(lang, r)
        }.mkString(" ")
        s"""WITH corpus AS (SELECT doc_id, lang, text FROM documents WHERE doc_id >= 20),
           |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus),
           |tc AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
           |rep AS (SELECT doc_id FROM (SELECT doc_id, sum(c) AS n, max(c) AS m FROM tc GROUP BY 1)
           |        WHERE n >= 5 AND round(m::DOUBLE / n, 4) <= 0.2),
           |gated AS (SELECT c.* FROM corpus c JOIN rep USING (doc_id)),
           |exact AS (SELECT doc_id, lang, text FROM (
           |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           |    FROM gated) WHERE rn = 1),
           |t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM exact),
           |sh AS (SELECT doc_id,
           |              unnest(list_transform(range(len(ws) - 2),
           |                     i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS s
           |       FROM t WHERE len(ws) >= 3),
           |sig AS (SELECT doc_id,
           |               min(md5('0:' || s)) AS mh0, min(md5('1:' || s)) AS mh1,
           |               min(md5('2:' || s)) AS mh2, min(md5('3:' || s)) AS mh3
           |        FROM sh GROUP BY doc_id),
           |bands AS (SELECT doc_id, unnest([mh0, mh1, mh2, mh3]) AS band FROM sig),
           |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |          FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
           |u AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM exact),
           |nd AS (SELECT DISTINCT doc_b AS doc_id FROM (
           |    SELECT doc_a, doc_b,
           |           round(len(list_intersect(ua.ws, ub.ws))::DOUBLE
           |                 / (len(ua.ws) + len(ub.ws) - len(list_intersect(ua.ws, ub.ws))), 4) AS j
           |    FROM cands JOIN u ua ON doc_a = ua.doc_id JOIN u ub ON doc_b = ub.doc_id) p
           |    WHERE j >= 0.9),
           |deduped AS (SELECT e.* FROM exact e LEFT JOIN nd ON e.doc_id = nd.doc_id
           |            WHERE nd.doc_id IS NULL),
           |bws AS (SELECT doc_id, string_split(text, ' ') AS ls FROM documents WHERE doc_id < 20),
           |bg AS (SELECT DISTINCT ls[i] || ' ' || ls[i+1] || ' ' || ls[i+2] || ' ' || ls[i+3] AS g
           |       FROM (SELECT doc_id, ls, unnest(range(1, len(ls) - 2)) AS i FROM bws)),
           |dws AS (SELECT doc_id, string_split(text, ' ') AS ls FROM deduped),
           |dg AS (SELECT doc_id, ls[i] || ' ' || ls[i+1] || ' ' || ls[i+2] || ' ' || ls[i+3] AS g
           |       FROM (SELECT doc_id, ls, unnest(range(1, len(ls) - 2)) AS i FROM dws)),
           |cont AS (SELECT DISTINCT dg.doc_id FROM dg JOIN bg USING (g)),
           |clean AS (SELECT d.* FROM deduped d LEFT JOIN cont ON d.doc_id = cont.doc_id
           |          WHERE cont.doc_id IS NULL),
           |sampled AS (SELECT * FROM clean WHERE CASE $cases ELSE TRUE END),
           |ws2 AS (SELECT doc_id, string_split(text, ' ') AS ls FROM sampled),
           |w2 AS (SELECT doc_id, ls,
           |        unnest(range(0, CASE WHEN len(ls) <= 64 THEN 1
           |                             ELSE CAST(ceil((len(ls) - 64)::DOUBLE / 48) AS INT) + 1
           |                        END)) AS i
           |       FROM ws2)
           |SELECT doc_id, i::BIGINT AS window_idx, (i * 48)::BIGINT AS start_tok,
           |       least(64, len(ls) - i * 48)::BIGINT AS n_window_tokens,
           |       array_to_string(ls[i * 48 + 1 : i * 48 + 64], ' ') AS window_text
           |FROM w2 ORDER BY doc_id, window_idx""".stripMargin
      }),
    // RTL segment reversal (pred_reverse analog) — row-local, fully pushable
    Query("d12_pred_reverse", (s, dir) =>
      docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          TextFunctions.predReverse(col("text")).as("reversed"))
        .orderBy("doc_id"),
      oracle = Some(
        """SELECT doc_id,
          |       array_to_string(list_reverse(regexp_extract_all(text,
          |         '[a-zA-Z0-9 :*./%+-]+|[^a-zA-Z0-9 :*./%+-]')), '') AS reversed
          |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),
    // production 64-bit simhash. FULL SQL oracle (r5): the fixture's
    // single-space tokens are ≤8 ASCII bytes, so Spark's XXH64 short path
    // unrolls completely in SQL (simhashSigCtes — wrapping multiplies +
    // mul/div rotates); spec-tested on top.
    Query("d10_simhash_pairs", (s, dir) => DedupFunctions.simhashPairs(docs(s, dir), 12),
      oracle = Some(
        s"""WITH eligible AS MATERIALIZED (
           |  SELECT doc_id, text FROM documents WHERE $nonTrivialSql),
           |${simhashSigCtes("a", "eligible", "42")},
           |bands AS MATERIALIZED (
           |  SELECT doc_id, usim, b.band_idx,
           |         (usim // CAST(power(2, 16*b.band_idx) AS UBIGINT)) % 65536 AS band
           |  FROM sig_a,
           |    (SELECT band_idx::INT AS band_idx FROM unnest(range(4)) t(band_idx)) b),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |         bit_count(xor(a.usim, b.usim))::INT AS hamming
           |  FROM bands a JOIN bands b
           |    ON a.band_idx = b.band_idx AND a.band = b.band
           |       AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 12
           |ORDER BY doc_a, doc_b""".stripMargin)),
    // PRODUCTION band width end-to-end: 32-bit bands (the 10^9-doc knob —
    // 4×10^18 bucket space, see DedupFunctions.simhashPairs scaladoc). Raw
    // sf-corpus texts have no near-dups at this selectivity, so the query
    // plants deterministic twins (exact + one-suffix-token mutants of docs
    // 0..49) — exact twins collide in EVERY band by construction, so rows>0
    // is guaranteed; mutant recall at this width is spec-tested. FULL SQL
    // oracle (r5): d10's simhashSigCtes + the twin construction in SQL
    Query("d10b_simhash_pairs32", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val exactTwins = d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val mutantTwins = d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" twin")).as("text"))
      DedupFunctions.simhashPairs(d.union(exactTwins).union(mutantTwins),
        12, bandBits = 32)
    },
      oracle = Some(
        s"""WITH $simhashTwinCorpusSql,
           |${simhashSigCtes("a", "eligible", "42")},
           |bands AS MATERIALIZED (
           |  SELECT doc_id, usim, b.band_idx,
           |         (usim // CAST(power(2, 32*b.band_idx) AS UBIGINT)) % 4294967296 AS band
           |  FROM sig_a,
           |    (SELECT band_idx::INT AS band_idx FROM unnest(range(2)) t(band_idx)) b),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |         bit_count(xor(a.usim, b.usim))::INT AS hamming
           |  FROM bands a JOIN bands b
           |    ON a.band_idx = b.band_idx AND a.band = b.band
           |       AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 12
           |ORDER BY doc_a, doc_b""".stripMargin)),
    // the 10^12-doc shape: 128-bit signature × 32-bit bands (SCALE.md) —
    // same planted-twin construction as d10b; exact twins guarantee rows.
    // FULL SQL oracle (r5): simhashSigCtes at BOTH seeds (42 + HI_SEED)
    Query("d10c_simhash_pairs128", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val exactTwins = d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val mutantTwins = d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" twin")).as("text"))
      DedupFunctions.simhash128Pairs(d.union(exactTwins).union(mutantTwins), 24)
    },
      oracle = Some(
        s"""WITH $simhashTwinCorpusSql,
           |${simhashSigCtes("lo", "eligible", "42")},
           |${simhashSigCtes("hi", "eligible", "11400714819323198485")},
           |sig2 AS (
           |  SELECT l.doc_id, l.usim AS ulo, h.usim AS uhi
           |  FROM sig_lo l JOIN sig_hi h USING (doc_id)),
           |bands AS MATERIALIZED (
           |  SELECT doc_id, ulo, uhi, b.band_idx,
           |         CASE WHEN b.band_idx < 2
           |              THEN (ulo // CAST(power(2, 32*b.band_idx) AS UBIGINT)) % 4294967296
           |              ELSE (uhi // CAST(power(2, 32*(b.band_idx-2)) AS UBIGINT)) % 4294967296
           |         END AS band
           |  FROM sig2,
           |    (SELECT band_idx::INT AS band_idx FROM unnest(range(4)) t(band_idx)) b),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |         (bit_count(xor(a.uhi, b.uhi)) +
           |          bit_count(xor(a.ulo, b.ulo)))::INT AS hamming
           |  FROM bands a JOIN bands b
           |    ON a.band_idx = b.band_idx AND a.band = b.band
           |       AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 24
           |ORDER BY doc_a, doc_b""".stripMargin)),

    // ================= streaming surface over `events` =====================
    // windowed agg computed by a REAL incremental stream (file micro-batches,
    // complete mode, drained) — oracle checks it equals the batch answer
    Query("s01_stream_window", (s, dir) =>
      graft.streaming.EventStream.runStream(s, dir),
      oracle = Some(
        """SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, event_type,
          |       count(*)::BIGINT AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      // an equivalence proof whose state grows with window count (SCALE.md:
      // non-production shape), so Bench leaves it out; s02 and s04 are the
      // production streaming shapes and stay benched
      benched = false),
    // production ingest shape: watermark + append mode over a time-ordered
    // file replay — bounded state; oracle = batch agg restricted to windows
    // closed by the final watermark (end <= max(ts) - delay)
    Query("s02_stream_append", (s, dir) =>
      graft.streaming.EventStream.runStreamAppend(s, dir),
      oracle = Some(
        """WITH m AS (SELECT max(ts) AS mx FROM events),
          |agg AS (
          |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, event_type,
          |         count(*)::BIGINT AS n,
          |         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
          |  FROM events GROUP BY 1, 2)
          |SELECT window_start, event_type, n, sum_value
          |FROM agg, m
          |WHERE window_start + INTERVAL '5 minutes' <= mx - INTERVAL '10 minutes'
          |ORDER BY window_start, event_type""".stripMargin)),
    // streaming EXTRACTION: the pure kernel over file micro-batches — drained
    // output byte-identical to batch extraction (StreamingSpec); rows-only
    Query("s03_stream_extract", (s, _) =>
      graft.streaming.PageStream.runStreamExtract(s, CorpusSource.pages(s, 140))
        .drop("text")),
    // CUSTOM-STATE streaming sessionization (flatMapGroupsWithState +
    // event-time timeout): drained emitted set = sessions closed before the
    // final watermark — oracle = batch sessionize (q08's logic) filtered by
    // ts_end + gap < max(ts) − delay
    Query("s04_stream_sessions", (s, dir) =>
      graft.streaming.EventStream.runStreamSessions(s, dir),
      oracle = Some(
        """WITH m AS (SELECT max(epoch_ms(ts)) AS mx_ms FROM events),
          |marked AS (
          |  -- BOTH windows order by (ts_ms, event_id): ordering one by raw ts
          |  -- (microsecond) and the other by truncated ms could split
          |  -- same-millisecond events across sessions differently
          |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
          |         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
          |               OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 300000
          |              THEN 1 ELSE 0 END AS is_new
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
          |), sessions AS (
          |  SELECT user_id, ts_ms,
          |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
          |                           ROWS UNBOUNDED PRECEDING) AS session_id
          |  FROM marked),
          |agg AS (
          |  SELECT user_id, session_id, count(*)::BIGINT AS n_events,
          |         min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
          |  FROM sessions GROUP BY 1, 2)
          |SELECT user_id, start_ms::BIGINT AS session_start_ms,
          |       end_ms::BIGINT AS session_end_ms, n_events
          |FROM agg, m
          |WHERE end_ms + 300000 < mx_ms - 600000
          |ORDER BY user_id, session_start_ms""".stripMargin)),
    // exactly-once ingest dedup over an at-least-once replay (every file
    // redelivered once): dropDuplicatesWithinWatermark with bounded state —
    // oracle = the events table itself (each event emitted exactly once)
    Query("s05_stream_dedup", (s, dir) =>
      graft.streaming.EventStream.runStreamDedup(s, dir),
      oracle = Some(
        """SELECT event_id, user_id, event_type, ts, value
          |FROM events ORDER BY event_id""".stripMargin)),
    // watermarked stream-stream inner join (attribution: purchases to the
    // same user's signups within 6 h) — both sides watermarked, the join
    // condition time-bounded so state EVICTS; drained output equals the
    // batch self-join, which is the oracle
    Query("s06_stream_join", (s, dir) =>
      graft.streaming.EventStream.runStreamJoin(s, dir),
      oracle = Some(
        """SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id,
          |       s.ts AS signup_ts, p.ts AS purchase_ts, p.value
          |FROM events s JOIN events p
          |  ON s.user_id = p.user_id
          | AND s.event_type = 'signup' AND p.event_type = 'purchase'
          | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 6 HOUR
          |ORDER BY signup_id, purchase_id""".stripMargin)),

    // ================= similarity ops over `embeddings` ====================
    Query("e01_knn_brute", (s, dir) => SimilarityFunctions.knnBrute(emb(s, dir), 5, 5),
      oracle = Some(
        """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
          |           FROM embeddings WHERE vec_id < 5),
          |scored AS (
          |  SELECT q.query_id, e.vec_id,
          |         round(list_sum(list_transform(range(len(qe)),
          |               i -> qe[i+1] * (e.embedding::DOUBLE[])[i+1])), 4) + 0.0 AS score
          |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
          |ranked AS (
          |  SELECT *, row_number() OVER (PARTITION BY query_id
          |                               ORDER BY score DESC, vec_id) AS rank
          |  FROM scored)
          |SELECT query_id, rank::BIGINT AS rank, vec_id, score
          |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    Query("e02_vec_norms", (s, dir) =>
      emb(s, dir).select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(SimilarityFunctions.l2norm(col("embedding")), 4).as("l2"))
        .orderBy("vec_id"),
      oracle = Some(
        """SELECT vec_id, len(embedding)::BIGINT AS dim,
          |       round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 4) AS l2
          |FROM embeddings ORDER BY vec_id""".stripMargin)),
    Query("e03_label_centroids", (s, dir) => SimilarityFunctions.labelCentroids(emb(s, dir)),
      oracle = Some(
        """SELECT label::BIGINT AS label, i::BIGINT AS pos,
          |       round(avg((embedding::DOUBLE[])[i+1]), 4) + 0.0 AS centroid_v,
          |       count(*)::BIGINT AS n
          |FROM embeddings, range(64) t(i)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // LSH-bucketed ANN (scale path; recall measured vs e01 in
    // SimilaritySpec). FULL SQL oracle (r5): the splitmix64 plane table is
    // pure integer mixing, reproduced in SQL via 32-bit-split wrapping
    // multiplies (srpWeightCtes) — buckets, candidates and re-rank then
    // match the kernel bit-for-bit.
    Query("e04_ann_bucketed", (s, dir) =>
      SimilarityFunctions.annBucketed(emb(s, dir), 5, 5, nPlanes = 4, dim = 64),
      oracle = Some(
        s"""WITH corpus AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
           |          FROM embeddings WHERE len(embedding) = 64),
           |${srpWeightCtes(16)},
           |${srpBucketCtes(4)},
           |qb AS (SELECT vec_id AS query_id, bucket FROM bucketed WHERE vec_id < 5),
           |cands AS (
           |  SELECT DISTINCT q.query_id, b.vec_id
           |  FROM bucketed b JOIN qb q
           |    ON b.bucket = q.bucket AND b.vec_id <> q.query_id),
           |qs AS (SELECT vec_id AS query_id, v AS q FROM corpus WHERE vec_id < 5),
           |scored AS (
           |  SELECT c.query_id, c.vec_id,
           |         round(list_sum(list_transform(range(64),
           |               i -> qs.q[i+1]*e.v[i+1])), 4) + 0.0 AS score
           |  FROM cands c JOIN corpus e ON e.vec_id = c.vec_id JOIN qs USING (query_id)),
           |ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |                               ORDER BY score DESC, vec_id) AS rank
           |  FROM scored)
           |SELECT query_id, rank::BIGINT AS rank, vec_id, score
           |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    // embedding-cosine near-dup pairs: oracle-checked brute on a bounded id
    // subset (the correctness surface); cosineDupPairs is the SRP-blocked
    // scale path, spec-tested with planted duplicates
    Query("e05_cosine_dups", (s, dir) =>
      SimilarityFunctions.cosineDupPairsBrute(
        emb(s, dir).filter(col("vec_id") < 200), 0.3),
      oracle = Some(
        """WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v
          |           FROM embeddings WHERE vec_id < 200),
          |scored AS (
          |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          |         round(list_sum(list_transform(range(len(a.v)),
          |               i -> a.v[i+1] * b.v[i+1])), 4) + 0.0 AS cos
          |  FROM s a JOIN s b ON a.vec_id < b.vec_id)
          |SELECT vec_a, vec_b, cos FROM scored
          |WHERE cos >= 0.3 ORDER BY vec_a, vec_b""".stripMargin)),
    // the e05 SCALE path end-to-end (SRP-blocked candidates → exact verify;
    // d10b's planted-twin recipe): raw sf embeddings are near-uniform on the
    // sphere (no pairs at 0.95), so the query plants deterministic twins —
    // exact copies of vecs 0..24 (cosine 1.0 collides in EVERY hash table by
    // construction, so rows > 0 is guaranteed) and one-coordinate-bumped
    // renormalized copies (cos ≥ 0.998 near dups; SRP recall for those is
    // spec-tested in DedupSimilaritySpec). FULL SQL oracle (r5): the
    // splitmix64 plane table is SQL-reproducible after all (srpWeightCtes'
    // wrapping-multiply emulation), and the planted-twin construction —
    // bump, renormalize, float-cast — is the same IEEE ops in both engines;
    // pair-for-pair equality with the brute filter stays spec-pinned.
    Query("e05b_cosine_dups_srp", (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("label"), col("embedding"))
      val base = e.filter(col("vec_id") < 25)
      val exact = base.select((col("vec_id") + 1000000L).as("vec_id"),
        col("label"), col("embedding"))
      val bumped = transform(col("embedding").cast("array<double>"),
        (x, i) => when(i === 0, x + lit(0.05d)).otherwise(x))
      val nrm = sqrt(aggregate(bumped, lit(0.0d), (a, x) => a + x * x))
      val near = base.select((col("vec_id") + 2000000L).as("vec_id"), col("label"),
        transform(bumped, x => (x / nrm).cast("float")).as("embedding"))
      // nPlanes=8 (256 buckets/table, e04's setting): the blocking must be
      // SELECTIVE to demonstrate the scale path — at 4 planes the 16 buckets
      // admit ~n²/16 candidates per table (the band join approaches all-pairs
      // on this corpus); at 8 the candidate set shrinks 16× while exact twins
      // still collide in every table and near-twin retention stays ≥0.999
      // (per-table (1-θ/π)^8 ≈ 0.85, OR over 4 tables)
      SimilarityFunctions.cosineDupPairs(e.union(exact).union(near), 0.95,
        nPlanes = 8, dim = 64)
    },
      oracle = Some(
        s"""WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v
           |          FROM embeddings WHERE len(embedding) = 64),
           |base AS (SELECT vec_id, v FROM raw WHERE vec_id < 25),
           |bmp AS (
           |  SELECT vec_id,
           |         list_transform(v, (x, i) -> CASE WHEN i = 1 THEN x + 0.05 ELSE x END) AS b
           |  FROM base),
           |bn AS (
           |  SELECT vec_id, b, sqrt(list_sum(list_transform(b, x -> x*x))) AS nrm FROM bmp),
           |corpus AS MATERIALIZED (
           |  SELECT vec_id, v FROM raw
           |  UNION ALL
           |  SELECT vec_id + 1000000, v FROM base
           |  UNION ALL
           |  SELECT vec_id + 2000000,
           |         list_transform(b, x -> CAST(CAST(x / nrm AS FLOAT) AS DOUBLE))
           |  FROM bn),
           |${srpWeightCtes(32)},
           |${srpBucketCtes(8)},
           |cands AS (
           |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           |  FROM bucketed a JOIN bucketed b
           |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
           |scored AS (
           |  SELECT c.vec_a, c.vec_b,
           |         round(list_sum(list_transform(range(64),
           |               i -> ea.v[i+1]*eb.v[i+1])), 4) + 0.0 AS cos
           |  FROM cands c JOIN corpus ea ON ea.vec_id = c.vec_a
           |               JOIN corpus eb ON eb.vec_id = c.vec_b)
           |SELECT vec_a, vec_b, cos FROM scored
           |WHERE cos >= 0.95 ORDER BY vec_a, vec_b""".stripMargin)),
    // IVF ANN — the second similarity-search scale path next to SRP-LSH
    // (e04): k-means coarse quantizer (Lloyd in DECIMAL — bit-deterministic
    // across parallelism), one inverted list per vector via the codegen'd
    // assignment kernel, candidates = equi-join on probed list ids, exact
    // re-rank. FULL SQL oracle (r5): centroid cells are quantized to 9
    // decimals after the DECIMAL-exact mean, which makes the whole Lloyd
    // loop engine-portable — the oracle unrolls the 3 rounds as CTEs
    // (ivfCentroidCtes) and reproduces search bit-for-bit; recall vs
    // knnBrute and determinism stay spec-pinned on top.
    Query("e06_ivf_ann", (s, dir) =>
      SimilarityFunctions.ivfSearch(emb(s, dir), nQueries = 5, kNN = 5,
        k = 16, iters = 3, nProbe = 4, dim = 64),
      oracle = Some(
        s"""${ivfCentroidCtes()},
           |${ivfProbesCte()},
           |scored AS (
           |  SELECT p.query_id, l.vec_id,
           |         round(list_sum(list_transform(range(64),
           |               i -> p.q[i+1]*l.v[i+1])), 4) + 0.0 AS score
           |  FROM lists l JOIN probes p USING (list_id)
           |  WHERE l.vec_id <> p.query_id),
           |ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |                               ORDER BY score DESC, vec_id) AS rank
           |  FROM scored)
           |SELECT query_id, rank::BIGINT AS rank, vec_id, score
           |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    // IVF-PQ ANN: the compressed-corpus scale path — vectors stored as
    // 1+M small ints, ADC scoring from codes (codegen'd kernel), exact
    // re-rank over refine×kNN candidates only. FULL SQL oracle (r5): the
    // 9-decimal quantization applies to the subspace codebook means too,
    // so the oracle unrolls coarse Lloyd + M=8 codebook rounds + encode
    // as CTEs and reproduces the ADC fold order (coarse terms then
    // subspace-major codeword terms) bit-for-bit; score exactness and the
    // planted-twin guarantee stay spec-pinned (DedupSimilaritySpec).
    Query("e07_pq_ann", (s, dir) =>
      SimilarityFunctions.pqSearch(emb(s, dir), nQueries = 5, kNN = 5,
        k = 16, m = 8, ksub = 16, iters = 3, nProbe = 4, refine = 4, dim = 64),
      oracle = Some(
        s"""${ivfCentroidCtes()},
           |${pqCodebookCtes()},
           |${ivfProbesCte()},
           |adc AS (
           |  SELECT p.query_id, l.vec_id, p.q,
           |         list_sum(list_concat(
           |           list_transform(range(64), i -> p.q[i+1]*c.cv[i+1]),
           |           list_transform(range(64), i -> p.q[i+1]*w.w[i+1]))) AS approx
           |  FROM lists l
           |  JOIN probes p USING (list_id)
           |  JOIN c3 c ON c.list_id = l.list_id
           |  JOIN cwflat w ON w.vec_id = l.vec_id
           |  WHERE l.vec_id <> p.query_id),
           |short AS (
           |  SELECT query_id, vec_id, q FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |               ORDER BY approx DESC, vec_id) AS arank FROM adc)
           |  WHERE arank <= 20),
           |exact AS (
           |  SELECT s.query_id, s.vec_id,
           |         round(list_sum(list_transform(range(64),
           |               i -> s.q[i+1]*ev.v[i+1])), 4) + 0.0 AS score
           |  FROM short s JOIN e ev ON ev.vec_id = s.vec_id),
           |ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |                               ORDER BY score DESC, vec_id) AS rank
           |  FROM exact)
           |SELECT query_id, rank::BIGINT AS rank, vec_id, score
           |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    // SemDeDup (Abbas et al. 2023): semantic dedup — IVF-cluster the
    // embedding space, compare only within a cluster (equi-join on list_id,
    // never all-pairs), drop vectors with a smaller-id in-cluster neighbor
    // at cosine >= 0.95. FULL SQL oracle (r5): same unrolled-Lloyd CTE
    // prefix as e06 (the 9-decimal centroid quantization makes the
    // quantizer engine-portable) + the in-cluster smaller-id cosine join;
    // planted-dup keep/drop behavior stays spec-pinned on top.
    Query("e08_semantic_dedup", (s, dir) =>
      SimilarityFunctions.semanticDedup(emb(s, dir), minCos = 0.95,
        k = 16, iters = 3, dim = 64),
      oracle = Some(
        s"""${ivfCentroidCtes()},
           |dropped AS (
           |  SELECT DISTINCT a.vec_id
           |  FROM lists a JOIN lists b
           |    ON a.list_id = b.list_id AND b.vec_id < a.vec_id
           |  WHERE round(list_sum(list_transform(range(64),
           |          i -> a.v[i+1]*b.v[i+1])), 4) + 0.0 >= 0.95)
           |SELECT l.vec_id, l.list_id::BIGINT AS list_id,
           |       (d.vec_id IS NULL) AS kept
           |FROM lists l LEFT JOIN dropped d USING (vec_id)
           |ORDER BY l.vec_id""".stripMargin)),
    // SQ8 scalar quantization (FAISS QT_8bit shape): per-dim max-abs scales,
    // round(127*v/scale) codes, worst-component reconstruction error.
    // Oracle-exact — every arithmetic step is the same IEEE double op in
    // both engines, and max is order-independent (never a float SUM).
    // Exploded to (vec_id, pos, code, max_abs_err) rows: the r4 driver
    // compare crashed canonicalizing the packed ARRAY<BIGINT> column, so
    // the verified surface carries only scalar columns.
    Query("e09_sq8", (s, dir) =>
      SimilarityFunctions.sq8QuantizeRows(emb(s, dir), dim = 64),
      oracle = Some(
        """WITH d AS (SELECT vec_id,
          |                  unnest(embedding::DOUBLE[]) AS v,
          |                  generate_subscripts(embedding, 1) AS pos
          |           FROM embeddings),
          |s AS (SELECT pos, max(abs(v)) AS scale FROM d GROUP BY pos),
          |q AS (SELECT d.vec_id, d.pos, d.v, s.scale,
          |             CASE WHEN s.scale = 0 THEN 0
          |                  ELSE CAST(round(127.0 * d.v / s.scale) AS BIGINT)
          |             END AS code
          |      FROM d JOIN s USING (pos)),
          |e AS (SELECT vec_id,
          |             max(CASE WHEN scale = 0 THEN abs(v)
          |                      ELSE abs(v - code * scale / 127.0) END)
          |               AS max_abs_err
          |      FROM q GROUP BY vec_id)
          |SELECT q.vec_id, q.pos::BIGINT AS pos, q.code, e.max_abs_err
          |FROM q JOIN e USING (vec_id) ORDER BY vec_id, pos""".stripMargin))
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap
  val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The DuckDB greedy-merge lambda over a space-joined token string column,
    * closing over the merge row of CTE `t` (columns l, r). Shared by the
    * d45 training rounds and the d46 apply stages. */
  private def bpeMergeLambda(t: String, c: String = "s"): String =
    s"""list_reduce(string_split($c, ' '),
       |          (acc, x) -> CASE
       |            WHEN x = $t.r AND (acc = $t.l OR ends_with(acc, ' ' || $t.l))
       |            THEN left(acc, length(acc) - length($t.l)) || $t.l || $t.r
       |            ELSE acc || ' ' || x END)""".stripMargin

  /** Squared-L2 distance between two DOUBLE[] columns, summed left-to-right
    * — DuckDB's `list_sum` over a per-row list folds sequentially, matching
    * the assignment kernel's while-loop order bit-for-bit. */
  private def ivfDistSql(v: String, cv: String): String =
    s"""list_sum(list_transform(range(64), i ->
       |             ($v[i+1]-$cv[i+1])*($v[i+1]-$cv[i+1])))""".stripMargin

  /** CTE prefix shared by the e06/e08 oracles: the full DECIMAL-exact Lloyd
    * loop of [[graft.functions.SimilarityFunctions.ivfCentroids]] unrolled
    * (d45's discipline), then the corpus assignment table. Per round r:
    * a_r = nearest-centroid assignment (row_number over (dist, list_id) —
    * ties to the lower id, the kernel's strict-< rule), u_r = per-(list,pos)
    * DECIMAL(38,18)-sum mean rounded to 9 decimals (the engine-portable
    * quantization the Spark side applies — both engines land on the same
    * 64-bit cell regardless of their decimal-division rounding chains),
    * c_r = updated centroids with empty lists keeping their previous cell
    * (COALESCE). `lists` is the final inverted-list table.
    *
    * Contract: the oracle models a CLEAN corpus (every embedding exactly
    * `dim` wide — true of the driver fixtures at both SFs, asserted by the
    * len filter). The engine's deliberate degenerate-row semantics for
    * wrong-shape embeddings (kernel routes them to list 0 / the first
    * nProbe lists) are hostile-input behavior pinned by ExpressionSpec's
    * fuzz suite, not by SQL — a dirty fixture would make oracle and engine
    * row counts diverge by design, not by bug.
    *
    * Multiply-referenced CTEs carry MATERIALIZED (here and in the PQ/SRP/
    * SimHash oracle builders): DuckDB inlines a CTE per reference by
    * default, and these chains reference each round's tables 2-4× — e07's
    * un-hinted oracle re-executed the whole quantizer per reference
    * (41.7 s at sf0.01); materialized it reads 0.57 s, bit-identical. */
  private def ivfCentroidCtes(k: Int = 16, iters: Int = 3): String = {
    val rounds = (1 to iters).map { r =>
      s"""a$r AS (
         |  SELECT vec_id, v, list_id FROM (
         |    SELECT e.vec_id, e.v, c.list_id,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${ivfDistSql("e.v", "c.cv")}, c.list_id) AS rn
         |    FROM e, c${r - 1} c) WHERE rn = 1),
         |u$r AS (
         |  SELECT list_id, pos,
         |         round(CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE)/COUNT(*), 9) AS m
         |  FROM (SELECT list_id, unnest(v) AS x, generate_subscripts(v,1) AS pos
         |        FROM a$r)
         |  GROUP BY list_id, pos),
         |c$r AS MATERIALIZED (
         |  SELECT p.list_id, coalesce(u.cv, p.cv) AS cv
         |  FROM c${r - 1} p LEFT JOIN
         |    (SELECT list_id, list(m ORDER BY pos) AS cv FROM u$r GROUP BY list_id) u
         |    USING (list_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
       |           FROM embeddings WHERE len(embedding) = 64),
       |c0 AS MATERIALIZED (SELECT vec_id AS list_id, v AS cv FROM e WHERE vec_id < $k),
       |$rounds,
       |lists AS MATERIALIZED (
       |  SELECT vec_id, v, list_id FROM (
       |    SELECT e.vec_id, e.v, c.list_id,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${ivfDistSql("e.v", "c.cv")}, c.list_id) AS rn
       |    FROM e, c$iters c) WHERE rn = 1)""".stripMargin
  }

  /** Query-probe CTE shared by the e06/e07 oracles: the `nProbe` nearest
    * final centroids per query vector — the kernel's partial selection
    * (ascending distance, ties to the lower untaken id) as a windowed
    * rank over the same (dist, list_id) order. `iters` must match the
    * [[ivfCentroidCtes]] call that precedes it (names the c$iters table). */
  private def ivfProbesCte(nQueries: Int = 5, nProbe: Int = 4,
                           iters: Int = 3): String =
    s"""probes AS MATERIALIZED (
       |  SELECT vec_id AS query_id, v AS q, list_id FROM (
       |    SELECT e.vec_id, e.v, c.list_id,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${ivfDistSql("e.v", "c.cv")}, c.list_id) AS rn
       |    FROM e, c$iters c WHERE e.vec_id < $nQueries) WHERE rn <= $nProbe)""".stripMargin

  /** Squared-L2 over an 8-dim subvector slice — the PQ codeword distance,
    * same sequential fold as [[ivfDistSql]]. */
  private def pqDistSql(v: String, cw: String): String =
    s"""list_sum(list_transform(range(8), i ->
       |             ($v[i+1]-$cw[i+1])*($v[i+1]-$cw[i+1])))""".stripMargin

  /** CTE extension for the e07 oracle: PQ codebook training on top of
    * [[ivfCentroidCtes]]'s `lists`/`c3`. `res` = per-vector residual
    * against its coarse centroid; `subv` = the M=8 8-dim slices; `cb0` =
    * the vec_id<ksub residual slices (the data-defined init rule); rounds
    * 1..3 mirror the coarse Lloyd (assignment ties to the lower codeword
    * id, DECIMAL-exact means quantized to 9 decimals, empty cells kept);
    * round 4 is the final ENCODE assignment, and `cwflat` lays each
    * vector's 8 chosen codewords out subspace-major — the order
    * `graft_pq_score` walks, so the ADC fold below reproduces the kernel's
    * accumulator bit-for-bit. `coarseIters` must match the preceding
    * [[ivfCentroidCtes]] call (names its final c-table). */
  private def pqCodebookCtes(iters: Int = 3, coarseIters: Int = 3): String = {
    val rounds = (1 to (iters + 1)).map { r =>
      val assign =
        s"""s$r AS (
           |  SELECT vec_id, sub, sv, code FROM (
           |    SELECT t.vec_id, t.sub, t.sv, c.code,
           |           row_number() OVER (PARTITION BY t.vec_id, t.sub
           |             ORDER BY ${pqDistSql("t.sv", "c.cw")}, c.code) AS rn
           |    FROM subv t JOIN cb${r - 1} c USING (sub)) WHERE rn = 1)""".stripMargin
      if (r > iters) assign
      else assign + s""",
        |up$r AS (
        |  SELECT sub, code, spos,
        |         round(CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE)/COUNT(*), 9) AS m
        |  FROM (SELECT sub, code, unnest(sv) AS x, generate_subscripts(sv,1) AS spos
        |        FROM s$r)
        |  GROUP BY sub, code, spos),
        |cb$r AS MATERIALIZED (
        |  SELECT p.sub, p.code, coalesce(u.cw, p.cw) AS cw
        |  FROM cb${r - 1} p LEFT JOIN
        |    (SELECT sub, code, list(m ORDER BY spos) AS cw FROM up$r GROUP BY sub, code) u
        |    USING (sub, code))""".stripMargin
    }.mkString(",\n")
    s"""res AS MATERIALIZED (
       |  SELECT l.vec_id, list_transform(range(64), i -> l.v[i+1] - c.cv[i+1]) AS r
       |  FROM lists l JOIN c$coarseIters c USING (list_id)),
       |subs AS (SELECT unnest(range(8))::INT AS sub),
       |subv AS MATERIALIZED (
       |  SELECT vec_id, sub, list_slice(r, sub*8+1, sub*8+8) AS sv FROM res, subs),
       |cb0 AS MATERIALIZED (
       |  SELECT sub, vec_id AS code, sv AS cw FROM subv WHERE vec_id < 16),
       |$rounds,
       |cwflat AS MATERIALIZED (
       |  SELECT s.vec_id, flatten(list(c.cw ORDER BY s.sub)) AS w
       |  FROM s${iters + 1} s JOIN cb$iters c ON s.sub = c.sub AND s.code = c.code
       |  GROUP BY s.vec_id)""".stripMargin
  }

  /** 64-bit wrapping multiply in SQL: split both operands into 32-bit
    * halves, combine the three sub-2^64 partial products mod 2^64 through
    * HUGEINT — DuckDB integer arithmetic traps on overflow, so the wrap has
    * to be spelled out. `x` must be a UBIGINT column, `k` a UBIGINT-ranged
    * literal. */
  private def wrapMulSql(x: String, k: String): String =
    s"""CAST((CAST($x % 4294967296 * ($k % 4294967296) AS HUGEINT)
       |        + CAST(((($x % 4294967296) * ($k // 4294967296)) % 4294967296
       |               + (($x // 4294967296) * ($k % 4294967296)) % 4294967296)
       |              % 4294967296 AS HUGEINT) * 4294967296)
       |       % 18446744073709551616 AS UBIGINT)""".stripMargin

  /** CTE block reproducing [[graft.expressions.SrpKernel]]'s splitmix64
    * plane table for `planes` total planes × 64 dims (Steele et al.
    * OOPSLA'14 — the same public mix the kernel uses; constants are the
    * unsigned decimal forms of 0x9e3779b97f4a7c15 / 0xbf58476d1ce4e5b9 /
    * 0x94d049bb133111eb). The final value routes UBIGINT → signed BIGINT →
    * DOUBLE: casting the two's-complement HUGEINT straight to DOUBLE
    * double-rounds 3/1024 cells by one ulp, while the BIGINT hop is exact.
    * Ends with `wpl(p, wv)` — one ordered weight list per plane. */
  private def srpWeightCtes(planes: Int): String =
    s"""idx AS (
       |  SELECT p::INT AS p, i::INT AS i
       |  FROM unnest(range($planes)) t(p), unnest(range(64)) s(i)),
       |m0 AS (SELECT p, i,
       |       CAST(p*64 + i AS UBIGINT) + CAST(11400714819323198485 AS UBIGINT) AS z0
       |       FROM idx),
       |m1 AS (SELECT p, i, xor(z0, z0 >> 30) AS x1 FROM m0),
       |m2 AS (SELECT p, i, ${wrapMulSql("x1", "13787848793156543929")} AS z1 FROM m1),
       |m3 AS (SELECT p, i, xor(z1, z1 >> 27) AS x2 FROM m2),
       |m4 AS (SELECT p, i, ${wrapMulSql("x2", "10723151780598845931")} AS z2 FROM m3),
       |m5 AS (SELECT p, i, xor(z2, z2 >> 31) AS z FROM m4),
       |weights AS (
       |  SELECT p, i,
       |         CAST(CASE WHEN z >= 9223372036854775808
       |              THEN CAST(CAST(z AS HUGEINT) - 18446744073709551616 AS BIGINT)
       |              ELSE CAST(z AS BIGINT) END AS DOUBLE)
       |           / 9223372036854775807.0 AS w
       |  FROM m5),
       |wpl AS (SELECT p, list(w ORDER BY i) AS wv FROM weights GROUP BY p)""".stripMargin

  /** CTE block computing the per-(vector, table) SRP bucket ids over a
    * `corpus(vec_id, v)` relation — [[graft.expressions.SrpKernel]]'s
    * `bits + (t << 32)` layout, sign bit = projection strictly positive,
    * projection = the same sequential 64-term fold as the kernel's loop.
    * Requires [[srpWeightCtes]] (`wpl`) in scope with
    * `nTables * nPlanes` planes. */
  private def srpBucketCtes(nPlanes: Int): String =
    s"""proj AS (
       |  SELECT c.vec_id, wpl.p,
       |         list_sum(list_transform(range(64), i -> c.v[i+1]*wpl.wv[i+1])) AS pr
       |  FROM corpus c, wpl),
       |bucketed AS MATERIALIZED (
       |  SELECT vec_id, (p // $nPlanes)::BIGINT * 4294967296
       |         + SUM(CASE WHEN pr > 0 THEN 1::BIGINT << (p % $nPlanes) ELSE 0 END) AS bucket
       |  FROM proj GROUP BY vec_id, p // $nPlanes)""".stripMargin

  /** `graft_token_count(text) >= 5` in SQL — the [[DedupFunctions]]
    * trivial-doc guard (count of maximal non-whitespace runs; ' ', TAB, LF
    * are the separators). Non-interpolated so the backslashes reach DuckDB's
    * RE2 literally. */
  private def nonTrivialSql: String =
    """len(list_filter(string_split_regex(text, '[ \t\n]'), x -> x <> '')) >= 5"""

  /** CTE chain reproducing [[graft.expressions.SimHash64Kernel]] in SQL:
    * `src(doc_id, text)` → `sig_$tag(doc_id, usim UBIGINT)`. Feasible
    * because the documents fixture is pure ASCII with single-space tokens
    * of AT MOST 8 bytes (asserted by the probe that sized this oracle), so
    * Spark's XXH64 only ever takes its short path — at most one 8-byte
    * word, one 4-byte chunk, up to three tail bytes, then the avalanche —
    * each wrapping multiply spelled out via [[wrapMulSql]] and each
    * rotate-left as `(x % 2^(64-r))·2^r + x ÷ 2^(64-r)` (DuckDB shifts
    * trap on overflow; the mul/div form cannot). Token split is Spark's
    * `split(text, ' ')` WITH empty tokens — DuckDB `string_split` matches
    * — and the per-bit majority vote / band layout mirror the kernel.
    * Longer tokens or non-ASCII text would need the ≥32-byte stripe loop
    * (a recursive CTE) — out of contract, same stance as the clean-corpus
    * contract on [[ivfCentroidCtes]]; a token over 8 bytes fails the oracle
    * with a labeled DuckDB `error()` rather than a silent wrong hash.
    * Seeds: 42 = the canonical signature, 11400714819323198485 = unsigned
    * SimHash64Kernel.HI_SEED. */
  private def simhashSigCtes(tag: String, src: String, seedU: String): String = {
    val p1 = "11400714785074694791"; val p2 = "14029467366897019727"
    val p3 = "1609587929392839161";  val p4 = "9650029242287828579"
    val p5 = "2870177450012600261"
    def addwrap(a: String, b: String) =
      s"CAST((CAST($a AS HUGEINT) + CAST($b AS HUGEINT)) % 18446744073709551616 AS UBIGINT)"
    def rotl(x: String, r: Int) = {
      val lo = java.math.BigInteger.TWO.pow(64 - r)
      val hi = java.math.BigInteger.TWO.pow(r)
      s"(($x % $lo) * $hi + $x // $lo)"
    }
    def mulsmall(b: String, k: String) =
      s"CAST((CAST($b AS HUGEINT) * $k) % 18446744073709551616 AS UBIGINT)"
    def byte(j: String) = s"CAST(ord(substr(tok, $j, 1)) AS UBIGINT)"
    val le64 = (1 to 8).map(j =>
      s"${byte(j.toString)} * ${java.math.BigInteger.valueOf(256).pow(j - 1)}").mkString(" + ")
    val k4 = (1 to 4).map(j =>
      s"${byte(j.toString)} * ${java.math.BigInteger.valueOf(256).pow(j - 1)}").mkString(" + ")
    val tails = (1 to 3).map { m =>
      s"""t${m}_$tag AS (
         |  SELECT doc_id, tid, tok, n, st,
         |         CASE WHEN st + $m <= n THEN
         |           ${wrapMulSql(rotl(s"xor(h, ${mulsmall(byte(s"st + $m"), p5)})", 11), p1)}
         |         ELSE h END AS h
         |  FROM t${m - 1}_$tag)""".stripMargin
    }.mkString(",\n")
    val av1 = wrapMulSql("xor(h, h >> 33)", p2)
    val av2 = wrapMulSql(s"xor($av1, $av1 >> 29)", p3)
    s"""tok_$tag AS (
       |  SELECT doc_id, tid, tok,
       |         CASE WHEN strlen(tok) > 8
       |              THEN error('simhash oracle: token over 8 bytes, outside the XXH64 short path')
       |              ELSE length(tok) END::INT AS n
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |               generate_subscripts(string_split(text, ' '), 1) AS tid
       |        FROM $src)),
       |h0_$tag AS (
       |  SELECT doc_id, tid, tok, n,
       |         CASE WHEN n >= 4 AND n < 8 THEN 4
       |              ELSE CASE WHEN n = 8 THEN 8 ELSE 0 END END AS st,
       |         CAST($seedU + $p5 + n AS UBIGINT) AS h
       |  FROM tok_$tag),
       |w_$tag AS (
       |  SELECT doc_id, tid, tok, n, st,
       |         CASE WHEN n = 8 THEN
       |           ${addwrap(wrapMulSql(rotl(s"xor(h, ${wrapMulSql(rotl(wrapMulSql(s"($le64)", p2), 31), p1)})", 27), p1), p4)}
       |         ELSE h END AS h
       |  FROM h0_$tag),
       |t0_$tag AS (
       |  SELECT doc_id, tid, tok, n, st,
       |         CASE WHEN n >= 4 AND n < 8 THEN
       |           ${addwrap(wrapMulSql(rotl(s"xor(h, ${wrapMulSql(s"($k4)", p1)})", 23), p2), p3)}
       |         ELSE h END AS h
       |  FROM w_$tag),
       |$tails,
       |fm_$tag AS (
       |  SELECT doc_id, tid, xor($av2, $av2 >> 32) AS h FROM t3_$tag),
       |bits_$tag AS (
       |  SELECT b::INT AS b, CAST(power(2, b) AS UBIGINT) AS pw
       |  FROM unnest(range(64)) t(b)),
       |votes_$tag AS (
       |  SELECT doc_id, b, pw,
       |         SUM(CASE WHEN (h // pw) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM fm_$tag, bits_$tag GROUP BY doc_id, b, pw),
       |sig_$tag AS MATERIALIZED (
       |  SELECT doc_id,
       |         CAST(COALESCE(SUM(CASE WHEN v > 0 THEN CAST(pw AS HUGEINT)
       |                                ELSE 0 END), 0) AS UBIGINT) AS usim
       |  FROM votes_$tag GROUP BY doc_id)""".stripMargin
  }

  /** The d10b/d10c planted-twin corpus (exact copies +1e6, one-suffix-token
    * mutants +2e6) followed by the trivial-doc gate — mirrors the query
    * construction verbatim. */
  private def simhashTwinCorpusSql: String =
    s"""corpus0 AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
       |  UNION ALL
       |  SELECT doc_id + 2000000, text || ' twin' FROM documents WHERE doc_id < 50),
       |eligible AS MATERIALIZED (
       |  SELECT doc_id, text FROM corpus0 WHERE $nonTrivialSql)""".stripMargin

  /** CTE prefix shared by the BPE oracles: w0 = the doc_id<200 word
    * dictionary (char-split seqs × corpus freq), then per round i: pair
    * explode (p), counts (c), argmax (t), merged dictionary (w). */
  private def bpeTrainingCtes(n: Int): String = {
    val base =
      """WITH w0 AS (
        |  SELECT rtrim(regexp_replace(w, '(.)', '\1 ', 'g')) AS seq, freq
        |  FROM (SELECT w, count(*)::BIGINT AS freq
        |        FROM (SELECT unnest(string_split(text, ' ')) AS w
        |              FROM documents WHERE doc_id < 200) GROUP BY w))""".stripMargin
    val rounds = (1 to n).map { i =>
      s""",
         |p$i AS (SELECT ts[i+1] AS l, ts[i+2] AS r, freq
         |        FROM (SELECT unnest(range(len(ts)-1)) AS i, ts, freq
         |              FROM (SELECT string_split(seq, ' ') AS ts, freq FROM w${i - 1}))),
         |c$i AS (SELECT l, r, sum(freq)::BIGINT AS c FROM p$i GROUP BY l, r),
         |t$i AS (SELECT l, r, c FROM c$i ORDER BY c DESC, l, r LIMIT 1),
         |w$i AS (SELECT ${bpeMergeLambda(s"t$i", "seq")} AS seq, freq
         |        FROM w${i - 1} CROSS JOIN t$i)""".stripMargin
    }.mkString
    base + rounds
  }

  /** d50/d53 host synthesis — ONE string consumed by BOTH engines (the
    * d38Rules discipline): Spark via `expr`, DuckDB via interpolation into
    * [[d50OracleBody]], so the corpus definition can never drift. Covers
    * every PSL rule shape: 1-label and multi-label suffixes, wildcard
    * (*.ck), exception (!www.ck), host == suffix, and the implicit-`*`
    * fallback (.xyz). */
  private def d50HostCaseSql: String =
    """CASE CAST(doc_id % 8 AS INT)
      |  WHEN 0 THEN source || '.com'
      |  WHEN 1 THEN 'www.' || source || '.co.uk'
      |  WHEN 2 THEN source || '.github.io'
      |  WHEN 3 THEN 'a.b.' || source || '.ck'
      |  WHEN 4 THEN CASE WHEN doc_id % 16 = 4 THEN 'www.ck'
      |              ELSE 'github.io' END
      |  WHEN 5 THEN source || '.ac.jp'
      |  WHEN 6 THEN 'blog.' || source || '.org'
      |  ELSE source || '.xyz' END""".stripMargin

  /** Shared d50 oracle CTE chain ending in `sel(doc_id, host,
    * public_suffix, registrable)` — d50 selects it directly, d53 windows
    * over it (one string so the two can never drift). */
  private def d50OracleBody: String =
    s"""WITH h AS (SELECT doc_id,
      |  $d50HostCaseSql AS host FROM documents),
      |rules(match_str, is_exc, rule_labels, delta) AS (VALUES
      |  ${graft.functions.DomainFunctions.parseRules(
            graft.functions.DomainFunctions.d50Rules)
         .map { case (m, e, l, d) => s"('$m', $e, $l, $d)" }
         .mkString(", ")}),
      |lab AS (SELECT doc_id, host, string_split(host, '.') AS ls,
      |               len(string_split(host, '.')) AS n FROM h),
      |cand AS (SELECT doc_id, ls, n,
      |                unnest(generate_series(1, n)) AS k FROM lab),
      |c2 AS (SELECT doc_id, ls, n, k,
      |              array_to_string(list_slice(ls, k, n), '.') AS suffix
      |       FROM cand),
      |m AS (SELECT c.doc_id, r.is_exc, r.rule_labels, c.ls, c.n,
      |             c.k - CASE r.delta WHEN -1 THEN 1 WHEN 1 THEN -1
      |                   ELSE 0 END AS ps_pos
      |      FROM c2 c JOIN rules r ON c.suffix = r.match_str
      |      WHERE (r.delta <> -1 OR c.k >= 2)),
      |m2 AS (SELECT doc_id, is_exc, rule_labels, ps_pos,
      |              array_to_string(list_slice(ls, ps_pos, n), '.') AS ps,
      |              CASE WHEN ps_pos >= 2 THEN
      |                array_to_string(list_slice(ls, ps_pos - 1, n), '.')
      |              END AS reg
      |       FROM m WHERE ps_pos <= n),
      |best AS (SELECT doc_id, ps, reg, row_number() OVER (
      |           PARTITION BY doc_id
      |           ORDER BY is_exc DESC, rule_labels DESC, ps_pos) AS rn
      |         FROM m2),
      |sel AS (SELECT l.doc_id, l.host,
      |       coalesce(b.ps, l.ls[l.n]) AS public_suffix,
      |       CASE WHEN b.ps IS NOT NULL THEN b.reg
      |            WHEN l.n >= 2 THEN
      |              array_to_string(list_slice(l.ls, l.n - 1, l.n), '.')
      |       END AS registrable
      |FROM lab l LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
      |  USING (doc_id))
      |""".stripMargin
}
