package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline (SURVEY.md §2 +
  * builder prompt: exact, MinHash+LSH, SimHash, n-gram Jaccard).
  *
  * Scale notes (10^12-row design point):
  *  - exact dedup is a single hash-shuffle on the content digest — the only
  *    full-width shuffle, and the digest (16 bytes) not the text is shuffled;
  *  - LSH candidate pairs shuffle band keys only; the pair join is band-local
  *    (each band bucket is small by construction), the classic way to avoid
  *    the quadratic all-pairs join;
  *  - n-gram Jaccard runs only on candidate pairs, never the cross product
  *    (here blocked on (lang, size-bucket) — at scale the LSH bands ARE the
  *    blocking key).
  */
object DedupFunctions {

  /** Benchmark decontamination — the n-gram overlap filter of the GPT-3
    * training-set construction (Brown et al. 2020, appendix C: drop training
    * documents sharing a 13-gram with any eval example; public methodology).
    * Per corpus document: how many DISTINCT word n-grams it shares with the
    * benchmark set (0 = clean; a pipeline drops or flags n_overlap > 0).
    *
    * Scale shape: the benchmark side is eval suites — tiny versus a 10^12-row
    * corpus — so its distinct n-gram set is BROADCAST and the probe is a
    * map-side hash join against the exploded corpus n-grams: zero shuffle of
    * corpus text, one narrow (doc_id, gram) aggregation for the counts.
    * Docs shorter than n tokens have no n-grams and report 0. */
  def contamination(corpus: DataFrame, bench: DataFrame, n: Int): DataFrame = {
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(TextFunctions.shinglesN(TextFunctions.tokens(col("text")), n)).as("g"))
    val benchGrams = grams(bench).select("g").distinct()
    val hits = grams(corpus).join(broadcast(benchGrams), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("g")).as("n_overlap"))
    corpus.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).cast("long").as("n_overlap"))
      .orderBy("doc_id")
  }

  /** Cross-document repeated-span statistics — the exact-substring-dedup
    * signal of Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better", public): for each document, how many of its n-token
    * shingle POSITIONS carry a shingle that also occurs in at least one
    * OTHER document. A high `dup_fraction` marks boilerplate/template text
    * that doc-level dedup misses (distinct documents sharing long spans).
    *
    * Scale shape: shingles are hashed to a 16-byte md5 BEFORE the exchange —
    * the global occurrence count groups by digest, and the join back to
    * positions is digest-keyed, so no shingle text ever crosses a shuffle
    * (the d05 digest discipline applied to spans). Docs shorter than n
    * tokens have no spans and are excluded by construction. */
  def crossDocSpans(docs: DataFrame, n: Int): DataFrame = {
    // referenced twice below — without the checkpoint the tokenize/
    // shingle/md5 kernel re-runs per reference (the x13/d18 discipline)
    val sh = docs
      .select(col("doc_id"),
        explode(TextFunctions.shinglesN(TextFunctions.tokens(col("text")), n)).as("s"))
      .select(col("doc_id"), md5(col("s").cast("binary")).as("h"))
      .localCheckpoint()
    // denominator: the shingle-position count has the CLOSED FORM
    // max(n_tokens − n + 1, none) — a row-local projection of the doc table,
    // not an aggregation over the exploded shingle rows (at 10^12 docs that
    // agg rescans every position; this scans every doc once)
    val perDoc = docs.select(col("doc_id"),
        (size(TextFunctions.tokens(col("text"))) - (n - 1)).cast("long")
          .as("n_shingles"))
      .filter(col("n_shingles") >= 1)
    // digests seen in ≥2 distinct docs. Joining THIS set (the duplicated
    // minority) back to positions beats the naive shape — which joined the
    // FULL digest table onto the full position table (measured 15.7 s vs
    // sub-second candidate side at sf0.1) — and at 10^12 rows the dup set
    // is the only side that must move
    val dupDigests = sh.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val dupCounts = sh.join(dupDigests, Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("n_dup"))
    val nd = coalesce(col("n_dup"), lit(0L)).cast("long")
    perDoc.join(dupCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        nd.as("n_dup_positions"),
        round(nd.cast("double") / col("n_shingles"), 4).as("dup_fraction"))
      .orderBy("doc_id")
  }

  /** Cross-document exact-substring REMOVAL — the rewrite counterpart of
    * [[crossDocSpans]] (Lee et al. 2021 §4 ExactSubstr: cut every duplicated
    * span from the corpus, keeping exactly one occurrence), recast at n-token
    * shingle granularity. A token range [p, p+n) is removed from document d
    * when the shingle starting at p occurs in ≥2 distinct documents and d is
    * NOT that shingle's owner (owner = min doc_id over the documents carrying
    * the digest — the kept occurrence, the same keeper rule as
    * [[exactGroups]]). Output: (doc_id, n_tokens, n_removed, clean_text)
    * with clean_text = the kept tokens space-joined in document order; docs
    * shorter than n tokens pass through untouched.
    *
    * Scale shape (10^12 docs): shingles are md5'd inside the scan stage and
    * only (digest, doc_id, position) rows cross the digest-pass exchanges —
    * never text. The owner table is the duplicated MINORITY (d25's candidate
    * discipline: the full position table joins the small dup set, not the
    * full digest table). Removal positions collapse to ONE row per affected
    * doc before the rewrite join (the d28 rewrite discipline), whose small
    * side is bounded by boilerplate mass — broadcast when it fits (AQE),
    * one doc_id-keyed sort-merge pass of the doc table when not: like d28's
    * rewrite join, the doc text crosses AT MOST that single exchange, and
    * never as a partitioning key. The rewrite itself is row-local and
    * LINEAR: the sorted position array folds into a covered-end cursor
    * emitting gap slices of the token array — never a per-token ×
    * per-interval membership product. */
  def crossDocRemoval(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 2, s"n=$n (a 1-gram would remove every repeated token)")
    val ws = TextFunctions.tokens(col("text"))
    // referenced twice (owner table + position probe) — checkpoint so the
    // tokenize/shingle/md5 kernel runs once (the x13/d18 discipline)
    val sh = docs
      .select(col("doc_id"),
        posexplode(TextFunctions.shinglesN(ws, n)).as(Seq("p", "s")))
      .select(col("doc_id"), col("p").cast("long").as("p"),
        md5(col("s").cast("binary")).as("h"))
      .localCheckpoint()
    // digests in ≥2 distinct docs, with their keeper: one narrow (h, doc_id)
    // distinct + aggregation — the dup set is the minority that moves
    val owners = sh.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h"))
      .agg(count(lit(1)).as("nd"), min(col("doc_id")).as("owner"))
      .filter(col("nd") >= 2)
      .select(col("h"), col("owner"))
    // removal start positions per non-owner doc, collapsed to one row/doc
    val removedPs = sh.join(owners, Seq("h"))
      .filter(col("doc_id") =!= col("owner"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("p"))).as("ps"))
    // row-local rewrite. Fold state: (cur = end of covered prefix, removed,
    // nkept, txt). ps is ascending, so each interval [p, p+n) ends strictly
    // after cur (p+n > prev p+n ≥ cur) — the removed increment is always
    // positive and needs no clamp. Gaps are emitted as concat_ws-joined
    // slices; the separator is keyed on nkept (token count), not string
    // emptiness, so empty tokens from repeated separators round-trip exactly
    // like the oracle's per-token string_agg.
    val nToks = size(ws).cast("long")
    val zero = struct(lit(0L).as("cur"), lit(0L).as("removed"),
      lit(0L).as("nkept"), lit("").as("txt"))
    def emitGap(acc: Column, gapLen: Column, gap: Column): Column =
      when(gapLen > 0 && acc("nkept") > 0, concat(acc("txt"), lit(" "), gap))
        .when(gapLen > 0, concat(acc("txt"), gap))
        .otherwise(acc("txt"))
    val folded = aggregate(
      coalesce(col("ps"), array().cast("array<long>")),
      zero,
      (acc, p) => {
        val gapLen = p - acc("cur")
        val gap = concat_ws(" ",
          slice(ws, (acc("cur") + 1).cast("int"), gapLen.cast("int")))
        struct(
          greatest(acc("cur"), p + n).as("cur"),
          (acc("removed") + (p + n - greatest(p, acc("cur")))).as("removed"),
          (acc("nkept") + when(gapLen > 0, gapLen).otherwise(0L)).as("nkept"),
          emitGap(acc, gapLen, gap).as("txt"))
      },
      acc => {
        val gapLen = nToks - acc("cur")
        val gap = concat_ws(" ",
          slice(ws, (acc("cur") + 1).cast("int"), gapLen.cast("int")))
        struct(acc("removed").as("n_removed"),
          emitGap(acc, gapLen, gap).as("clean_text"))
      })
    docs.join(removedPs, Seq("doc_id"), "left")
      .select(col("doc_id"), nToks.as("n_tokens"), folded.as("f"))
      .select(col("doc_id"), col("n_tokens"),
        col("f.n_removed").as("n_removed"),
        col("f.clean_text").as("clean_text"))
      .orderBy("doc_id")
  }

  /** Latest-snapshot selection for a recrawled corpus — a crawl revisits
    * pages, so the raw table holds MANY captures per url (the Common-Crawl
    * (url, warc_ts) shape from the input contract); a corpus build keeps the
    * newest capture per url before any content work. Keeper = max warc_ts,
    * ties (same capture instant) = min doc_id — deterministic like
    * [[exactGroups]]. Input columns: (doc_id, url, warc_ts, text); output one
    * row per url: (url, n_snapshots, kept_doc_id, kept_ts, kept_md5).
    *
    * Scale shape: ONE aggregation keyed by url — the argmax is a struct max
    * (ts, -doc_id, digest), so there is no per-url sort/window and no second
    * join: the exchange carries (url, ts, id, 16-byte digest), never the
    * page body. The digest rides as the struct's third field; (ts, -doc_id)
    * is unique per url, so it never participates in the ordering. */
  def latestSnapshot(snaps: DataFrame): DataFrame =
    snaps.groupBy(col("url")).agg(
        count(lit(1)).cast("long").as("n_snapshots"),
        max(struct(col("warc_ts").as("ts"), (-col("doc_id")).as("nid"),
          md5(col("text").cast("binary")).as("dg"))).as("m"))
      .select(col("url"), col("n_snapshots"),
        (-col("m.nid")).cast("long").as("kept_doc_id"),
        col("m.ts").as("kept_ts"),
        col("m.dg").as("kept_md5"))
      .orderBy("url")

  /** WARC revisit records — fetch-time storage dedup (the WARC 1.1
    * `revisit` record type with `WARC-Refers-To`; the Heritrix
    * identical-payload-digest convention Common Crawl publishes): within a
    * url, the FIRST capture of each distinct payload digest is stored as a
    * full `response` record; every later capture with the same digest
    * becomes a `revisit` record pointing at that original — the storage
    * side of recrawl dedup, complementing [[latestSnapshot]]'s compaction.
    * Input (doc_id, url, warc_ts, text); output one row per capture:
    * (doc_id, url, warc_ts, warc_type, payload_digest, refers_to_ts).
    *
    * Scale shape: ONE window keyed (url, digest) ordered (warc_ts, doc_id)
    * — the exchange carries (url, 32-hex digest, ts, id), never the page
    * body; `first` over the same window supplies the referent timestamp so
    * there is no second join or shuffle. */
  def revisitRecords(captures: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("url"), col("payload_digest"))
      .orderBy(col("warc_ts"), col("doc_id"))
    captures.select(col("doc_id"), col("url"), col("warc_ts"),
        md5(col("text").cast("binary")).as("payload_digest"))
      .withColumn("rn", row_number().over(w))
      .withColumn("first_ts", first(col("warc_ts")).over(w))
      .select(col("doc_id"), col("url"), col("warc_ts"),
        when(col("rn") === 1, lit("response")).otherwise(lit("revisit"))
          .as("warc_type"),
        col("payload_digest"),
        when(col("rn") > 1, col("first_ts")).as("refers_to_ts"))
      .orderBy("url", "warc_ts", "doc_id")
  }

  /** Exact dedup by content digest: groups of identical texts, keeper = min
    * doc_id (deterministic). Shuffles the 16-byte digest, not the document. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("content_md5"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("group_size"))
      .orderBy("content_md5")

  /** (doc_id, band) rows from the k single-hash MinHash bands — the shared
    * banding step of [[lshCandidatePairsRaw]] (self-join) and
    * [[incrementalLshDedup]] (batch×standing join); sub-shingle docs (null
    * signatures) never band. */
  private def bandsOf(docs: DataFrame, k: Int): DataFrame =
    TextFunctions.minhashSignature(docs, k)
      .select(col("doc_id"),
        explode(array((0 until k).map(s => col(s"mh$s")): _*)).as("band"))
      .filter(col("band").isNotNull)

  /** LSH candidate pairs without the final ORDER BY (composition surface:
    * jaccardPairs consumes this; an orderBy here would be a wasted sort). */
  private[graft] def lshCandidatePairsRaw(docs: DataFrame, k: Int): DataFrame =
    pairsFromBands(bandsOf(docs, k))

  /** Incremental NEAR-dup dedup — the recurring-crawl tier for near
    * duplicates, completing [[incrementalDedup]]/[[bloomIncrementalDedup]]'s
    * exact-digest tiers: each new crawl batch dedups against what the
    * corpus already holds (a fresh crawl vs all prior crawls). Band
    * candidates come from a batch×standing band EQUI-join — no standing
    * self-pairs (the standing side was deduped when it was built) and no
    * batch self-pairs (that is [[lshCandidatePairs]]/[[dedupComponents]]'
    * job); candidates verify with exact token-set Jaccard (the
    * [[jaccardPairs]] discipline, shared constants). Returns every batch
    * doc with its audit counts: (doc_id, n_candidates, n_neardups, keep)
    * where keep = no standing near-dup at `minJaccard`.
    *
    * Scale shape: the standing side ships (doc_id, band 32-hex) only — at
    * 10^12 standing docs that signature index is persisted once and
    * appended per crawl (the d26 standing-index discipline), so per-crawl
    * cost is O(batch bands + band-matched candidates); the verify joins
    * are candidate-bounded equi-joins and the band exchange never carries
    * text. */
  def incrementalLshDedup(standing: DataFrame, batch: DataFrame,
                          minJaccard: Double, k: Int = 4): DataFrame = {
    val cands = bandsOf(batch, k).as("b")
      .join(bandsOf(standing, k).as("s"), col("b.band") === col("s.band"))
      .select(col("b.doc_id").as("bid"), col("s.doc_id").as("sid"))
      .distinct()
    def toks(d: DataFrame) = d.select(col("doc_id"),
      array_distinct(TextFunctions.tokens(col("text"))).as("ws"))
    val verified = cands
      .join(toks(batch).as("a"), col("bid") === col("a.doc_id"))
      .join(toks(standing).as("c"), col("sid") === col("c.doc_id"))
      .select(col("bid"),
        size(array_intersect(col("a.ws"), col("c.ws"))).cast("double").as("inter"),
        (size(col("a.ws")) + size(col("c.ws"))).cast("double").as("sizes"))
      .select(col("bid"),
        round(col("inter") / (col("sizes") - col("inter")), 4).as("jaccard"))
    val perDoc = verified.groupBy(col("bid"))
      .agg(count(lit(1)).cast("long").as("n_candidates"),
        sum(when(col("jaccard") >= minJaccard, 1L).otherwise(0L))
          .cast("long").as("n_neardups"))
    batch.select(col("doc_id"))
      .join(perDoc, col("doc_id") === col("bid"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_neardups"), lit(0L)).as("n_neardups"))
      .withColumn("keep", col("n_neardups") === 0L)
      .orderBy("doc_id")
  }

  /** LSH candidate pairs from MinHash signatures: docs sharing ANY of the k
    * single-hash bands. Self-join on the band value; `a < b` halves the pairs;
    * distinct collapses multi-band hits. */
  def lshCandidatePairs(docs: DataFrame, k: Int): DataFrame =
    lshCandidatePairsRaw(docs, k).orderBy("doc_a", "doc_b")

  /** Banded MinHash-LSH candidate pairs — the production (b bands × r rows)
    * tunable of Broder's scheme (Leskovec-Rajaraman-Ullman ch. 3, public):
    * r consecutive signature slots concatenate into ONE band key, so a
    * candidate pair must agree on ALL r minhashes of some band. Collision
    * probability 1−(1−s^r)^b sharpens the similarity threshold
    * (~(1/b)^(1/r)) versus the r=1 single-hash bands of
    * [[lshCandidatePairs]] — the knob a 10^12-doc dedup turns to keep band
    * buckets selective (the MinHash analog of the d10b/d10c SimHash band
    * widths). Band keys are md5'd back to 32 hex chars with the band index
    * prefixed (cross-band collisions impossible), so the exchange stays as
    * narrow as the r=1 variant no matter how large r grows; sub-shingle docs
    * (null signatures) never band. The self-join is band-local — each
    * bucket is small by construction, never an all-pairs product. */
  def lshBandedPairs(docs: DataFrame, bands: Int, rows: Int): DataFrame = {
    require(bands >= 1 && rows >= 1, s"bands=$bands rows=$rows")
    val sig = TextFunctions.minhashSignature(docs, bands * rows)
    val bandCols = (0 until bands).map { j =>
      md5(concat(Seq(lit(s"$j:")) ++
        (0 until rows).map(i => col(s"mh${j * rows + i}")): _*))
    }
    val b = sig.filter(col("mh0").isNotNull)
      .select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
    pairsFromBands(b).orderBy("doc_a", "doc_b")
  }

  /** The shared band-bucket pair discipline: band-local self-join, `a < b`
    * halves the pairs, distinct collapses multi-band hits. Both LSH variants
    * (r=1 [[lshCandidatePairs]] and banded [[lshBandedPairs]]) go through
    * here so the pair convention can never diverge between them. Input
    * columns: (doc_id, band). */
  private def pairsFromBands(b: DataFrame): DataFrame =
    b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** Unigram-set Jaccard over the MinHash-LSH candidate pairs: candidates come
    * from `lshCandidatePairs` (band equi-join — linear in true near-dups, never
    * an all-pairs or within-block cross product), then the token sets are
    * joined back by doc_id and Jaccard is computed once per candidate. The
    * verification step of the classic MinHash-LSH dedup pipeline; the analog
    * of merge_fragmented's near-duplicate fusion
    * (tools/infer/utility.py:994-1018) recast to corpus dedup.
    *
    * Scale shape: two narrow equi-joins of (candidate pair) × (doc token set)
    * — O(|candidates|) work, vs the previous (lang, size-bucket) blocking
    * whose within-block join was quadratic in the hottest block. */
  def jaccardPairs(docs: DataFrame, minJaccard: Double, k: Int = 4): DataFrame =
    jaccardPairsRaw(docs, minJaccard, k).orderBy("doc_a", "doc_b")

  /** [[jaccardPairs]] without the presentation sort (composition surface:
    * dedupComponents consumes the pair set as an edge list — a global sort
    * there would be a wasted exchange, same rationale as
    * [[lshCandidatePairsRaw]]). */
  private[graft] def jaccardPairsRaw(docs: DataFrame, minJaccard: Double,
                                     k: Int = 4): DataFrame = {
    val cands = lshCandidatePairsRaw(docs, k)
    val t = docs.select(col("doc_id"),
      array_distinct(TextFunctions.tokens(col("text"))).as("ws"))
    // |a∩b| is projected ONCE and reused for both the numerator and the
    // |a∪b| = |a|+|b|−|a∩b| denominator (CollapseProject keeps multi-referenced
    // non-cheap expressions in their own projection, so the set intersection
    // runs once per pair, not three times)
    cands
      .join(t.as("a"), col("doc_a") === col("a.doc_id"))
      .join(t.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("a.ws"), col("b.ws"))).cast("double").as("inter"),
        (size(col("a.ws")) + size(col("b.ws"))).cast("double").as("sizes"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("sizes") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Connected-components clustering of the near-dup graph — the "keep ONE
    * doc per duplicate CLUSTER" step a production dedup needs after pairwise
    * verification, because near-duplication is NOT transitive: A~B and B~C
    * does not imply A~C, yet all three are one duplicate cluster and pairwise
    * removal (drop the higher id of each pair) can drop B for A and C for B
    * while a chain A–B–C–D keeps both A and C. Standard methodology in
    * corpus builds (The Pile / RefinedWeb dedup cluster their MinHash pair
    * graph with union-find before choosing keepers; public methodology).
    *
    * Algorithm: min-label propagation to a fixpoint — every doc starts
    * labeled with its own id; each round a doc's label becomes the min of its
    * own and its neighbors' labels. Converges in O(longest shortest path from
    * a component's min-id node) rounds; the result is independent of
    * iteration order and parallelism (min is commutative/associative), so the
    * output is deterministic: component_id = min doc_id of the cluster, and
    * `is_keeper` marks exactly one doc per component (singletons keep
    * themselves).
    *
    * Scale shape: the edge list (verified near-dup pairs — linear in true
    * near-dups, from the banded LSH join) is localCheckpoint'd once and
    * reused every round; each round is ONE equi-join of (src,dst)×(id,comp)
    * plus ONE min-aggregation keyed by id — all rows are two longs, no text
    * ever crosses an exchange, and the per-round labels are checkpointed so
    * lineage stays O(1). Convergence is detected with a driver-side scalar
    * count (control plane, like ExtractPipeline's bucket probe). Real dedup
    * clusters are shallow (near-dup graphs are dense within a cluster —
    * bands connect most members to the min directly), so rounds ≈ 2-4; if an
    * adversarial long-chain graph exhausts `maxRounds`, the computation
    * escapes to [[starComponents]] (large-star/small-star, O(log n) rounds,
    * same per-round join shape) instead of failing. */
  def dedupComponents(docs: DataFrame, minJaccard: Double, k: Int = 4,
                      maxRounds: Int = 64): DataFrame = {
    val pairs = jaccardPairsRaw(docs, minJaccard, k).select(col("doc_a"), col("doc_b"))
    // undirected: propagate both ways
    val edges = pairs.union(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst")
      .localCheckpoint()
    var labels = docs.select(col("doc_id").as("id"), col("doc_id").as("comp"))
      .localCheckpoint()
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      round += 1
      val viaNeighbors = edges.join(labels, edges("dst") === labels("id"))
        .select(col("src").as("id"), col("comp"))
      val next = labels.union(viaNeighbors)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
        .localCheckpoint()
      // labels only ever decrease, so "anything changed?" is one scalar
      changed = next.as("n")
        .join(labels.as("o"), col("n.id") === col("o.id"))
        .filter(col("n.comp") < col("o.comp")).count()
      labels = next
    }
    if (changed > 0)
      // adversarial long-chain graph: min-propagation needs diameter rounds;
      // escape to the O(log n) star shape (same two-long-columns round cost)
      return starComponents(edges, docs.select(col("doc_id")))
    labels.select(col("id").as("doc_id"), col("comp").as("component_id"),
        (col("id") === col("comp")).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** Connected components via alternating large-star/small-star rounds
    * (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond" —
    * public): O(log n) rounds on ANY graph, including the long-chain inputs
    * where plain min-label propagation needs O(diameter) rounds. Each phase
    * over the symmetric edge list:
    *   large-star(u): every neighbor v > u re-attaches to
    *                  m(u) = min(N(u) ∪ {u});
    *   small-star(u): every neighbor v ≤ u, and u itself, attach to m(u).
    * At the fixpoint every component is a star centered at its minimum id,
    * so the label is just m(u). Result schema/order matches
    * [[dedupComponents]]: (doc_id, component_id, is_keeper).
    *
    * Scale shape: per phase ONE (src → min dst) aggregation + ONE equi-join
    * on src; all rows are two longs, text never appears. Convergence check
    * is a canonical-edge-set symmetric difference via union + count-per-pair
    * (two longs per row) — ONE job and one scalar per phase pair. */
  def starComponents(edgesIn: DataFrame, docs: DataFrame,
                     maxRounds: Int = 64): DataFrame = {
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
    def canon(e: DataFrame): DataFrame =
      e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    // m(u) = min(N(u) ∪ {u}) over the current symmetric edges
    def mTable(e: DataFrame): DataFrame =
      e.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
    var edges = sym(edgesIn.select(col("src"), col("dst"))).localCheckpoint()
    var done = edges.isEmpty
    var round = 0
    while (!done) {
      round += 1
      require(round <= maxRounds, // 2·log2(n) in theory — this cannot fire
        s"starComponents did not converge in $maxRounds phase pairs")
      val before = canon(edges) // derives from checkpointed edges — cheap to replay once
      val mL = mTable(edges)
      val large = edges.filter(col("dst") > col("src"))
        .join(mL, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
      edges = sym(large).localCheckpoint()
      val mS = mTable(edges)
      val small = edges.filter(col("dst") < col("src"))
        .join(mS, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(mS.select(col("src"), col("m").as("dst")))
      edges = sym(small).localCheckpoint()
      val after = canon(edges)
      // fixpoint: the canonical undirected edge set stopped moving. Each
      // side is distinct, so a pair in the symmetric difference shows up
      // with count 1 — ONE aggregation + ONE action per phase pair (the
      // two-anti-join formulation launched two full jobs for one boolean)
      done = after.union(before).groupBy("a", "b").count()
        .filter(col("count") =!= 2).isEmpty
    }
    val labels = mTable(edges)
    docs.select(col("doc_id"))
      .join(labels.select(col("src").as("doc_id"), col("m")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("m"), col("doc_id")).as("component_id"))
      .select(col("doc_id"), col("component_id"),
        (col("doc_id") === col("component_id")).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** 64-bit SimHash over whitespace tokens using xxhash64 semantics: per bit
    * b, majority vote of token-hash bit b. Production variant of
    * TextFunctions.simhash16 (which exists for oracle parity); near-dup
    * pairs = hamming distance ≤ `maxHamming` within same band.
    *
    * Computed by the single-pass `graft_simhash64` Catalyst expression —
    * ZERO shuffle, fully row-local (the previous explode-every-token →
    * 64-vote groupBy re-keyed the whole corpus through an exchange; the
    * equivalence of the two formulations is spec-tested bit-for-bit). */
  def simhash64(docs: DataFrame): DataFrame =
    simhash64Raw(docs).orderBy("doc_id")

  /** Unsorted signature projection — the band-join builders consume this (an
    * orderBy would be a wasted global sort the explode/join immediately
    * destroys, same rationale as lshCandidatePairsRaw). */
  private def simhash64Raw(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.expressions.GraftExpressions.simhash64(col("text")).as("simhash64"))

  /** Trivial-document guard shared by the SimHash band joins: documents whose
    * whitespace token count is below `minTokens` all collapse onto a handful
    * of signatures (empty text → signature 0), so at 10^12 rows ONE band
    * bucket would hold every trivial doc — a quadratic pair blowup in that
    * bucket. The guard drops them before the signature is even computed
    * (row-local, pushes to the scan); it matches x13's quality gate, which is
    * the de-facto precondition of every near-dup stage. Counted with the
    * codegen'd `graft_token_count` kernel — no per-row token-array
    * allocation (split+size materializes every token just to count), and
    * real whitespace semantics (tab/newline separate tokens too). */
  private def nonTrivial(docs: DataFrame, minTokens: Int): DataFrame =
    docs.filter(graft.expressions.GraftExpressions.token_count(col("text")) >= minTokens)

  /** SimHash near-dup pairs: 64/bandBits bands of `bandBits` bits each — docs
    * collide if ANY band matches (a ≤`maxHamming`-bit difference leaves at
    * least one band intact with high probability), then exact hamming ≤
    * maxHamming via bit_count over the candidate pairs. The standard band-OR
    * construction: candidate generation is an equi-join on (band_idx,
    * band_value), never an all-pairs scan. Documents with fewer than
    * `minTokens` whitespace tokens are excluded (see [[nonTrivial]] — the
    * degenerate-band guard; without it every empty/near-empty doc lands in
    * the signature-0 bucket and the band join goes quadratic there).
    *
    * Band-width scaling (the n-dependent knob, SCALE.md): each band's bucket
    * count is 2^bandBits, so expected same-bucket pairs per band ≈
    * n²/2^bandBits. The sandbox default bandBits=16 (65k buckets) is sized
    * for ~10^5-10^6 docs; at 10^9 use 32-bit bands (4×10^18 bucket space),
    * at 10^12 either 32-bit bands over a 128-bit simhash or band+prefix
    * keys — widen the key, never the join. Fewer, wider bands trade recall
    * (only maxHamming < nBands is collision-guaranteed) for bucket size;
    * recall at bandBits=32 is spec-tested on planted near-dups. */
  def simhashPairs(docs: DataFrame, maxHamming: Int, bandBits: Int = 16,
                   minTokens: Int = 5): DataFrame =
    bandPairs(simhash64Raw(nonTrivial(docs, minTokens)), Seq("simhash64"),
      bandBits, maxHamming)

  /** 128-bit SimHash signature: two independent 64-bit halves (the kernel at
    * two seeds; the LOW half is bit-identical to [[simhash64]]'s signature).
    * Still a single row-local codegen'd projection — zero shuffle. This is
    * the 10^12-doc shape SCALE.md documents: doubling signature width halves
    * the random-collision hamming mass while 32-bit bands keep each band's
    * bucket space at 2^32. */
  def simhash128(docs: DataFrame): DataFrame =
    simhash128Raw(docs).orderBy("doc_id")

  private def simhash128Raw(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.expressions.GraftExpressions.simhash64Hi(col("text")).as("simhash_hi"),
      graft.expressions.GraftExpressions.simhash64(col("text")).as("simhash_lo"))

  /** Near-dup pairs over the 128-bit signature: 128/bandBits bands (default
    * 32-bit → 4 bands, collision-guaranteed for hamming ≤ 3, probabilistic
    * above), candidates via band equi-join, exact hamming =
    * bit_count(hi⊕hi) + bit_count(lo⊕lo) over candidates only. Trivial docs
    * (< `minTokens` tokens) are excluded — same degenerate-band guard as
    * [[simhashPairs]]. */
  def simhash128Pairs(docs: DataFrame, maxHamming: Int, bandBits: Int = 32,
                      minTokens: Int = 5): DataFrame =
    bandPairs(simhash128Raw(nonTrivial(docs, minTokens)), Seq("simhash_lo", "simhash_hi"),
      bandBits, maxHamming)

  /** The band-OR self-join behind [[simhashPairs]] and [[simhash128Pairs]].
    * `signatures` holds `doc_id` plus 64-bit signature columns; each column
    * of `bandCols`, in that order, splits into 64/bandBits bands. Docs pair
    * (a.doc_id < b.doc_id) when any band matches, and the exact hamming
    * distance, summed over the signature columns in table order, filters the
    * candidates. */
  private def bandPairs(signatures: DataFrame, bandCols: Seq[String], bandBits: Int,
                        maxHamming: Int): DataFrame = {
    require(64 % bandBits == 0 && bandBits > 0 && bandBits <= 64,
      s"bandBits must divide 64, got $bandBits")
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    // localCheckpoint: the signature table is the SELF-JOIN input — without
    // materialization each side recomputes the kernel, and the join keys'
    // pushed isnotnull re-derives it inside the scan filter (4 evaluations
    // per row total). Production shape: the sig table IS a persisted index.
    val sig = signatures.localCheckpoint()
    val sigCols = sig.columns.toSeq.filter(_ != "doc_id")
    val bandExprs = for (c <- bandCols; b <- 0 until 64 / bandBits)
      yield shiftrightunsigned(col(c), b * bandBits).bitwiseAND(lit(mask))
    val bands = sig.select(col("doc_id") +: sigCols.map(col) :+
      posexplode(array(bandExprs: _*)).as(Seq("band_idx", "band")): _*)
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.band") === col("b.band")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        sigCols.map(c => bit_count(col(s"a.$c").bitwiseXOR(col(s"b.$c")))).reduce(_ + _)
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental exact dedup — the recurring-crawl shape: a NEW batch of
    * pages is deduped against the corpus already ingested, keeping one row
    * per novel content digest (min doc_id within the batch). Doc-level dedup
    * (d05) re-groups the whole corpus; a 10^12-row corpus cannot afford that
    * per crawl — the standing corpus contributes only its 16-byte digest set
    * (in production a persisted digest index, here derived), the batch is
    * LEFT ANTI-joined against it, and only then deduped within itself.
    *
    * Scale shape: both sides shuffle digests, never text; the anti-join and
    * the within-batch group share the digest hash partitioning, so the
    * second exchange is elided. The standing side is the big one but carries
    * 16 bytes/row; the batch (a single crawl) is orders smaller. */
  def incrementalDedup(existing: DataFrame, batch: DataFrame): DataFrame = {
    val digest = md5(col("text").cast("binary"))
    // localCheckpoint: the standing digest set is the PERSISTED index in
    // production; unmaterialized, the anti-join's isnotnull(key) constraint
    // substitutes through the projection and re-runs md5(text) in the
    // standing scan filter (2× per standing row)
    val seen = existing.select(digest.as("content_md5")).distinct()
      .localCheckpoint()
    batch.select(col("doc_id"), digest.as("content_md5"))
      .join(seen, Seq("content_md5"), "left_anti")
      .groupBy(col("content_md5"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("content_md5"))
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered incremental dedup — [[incrementalDedup]]'s two-tier
    * production shape (Bloom 1970, public): a Bloom filter over the standing
    * digest set answers "definitely novel" ROW-LOCALLY, so only might-
    * contain rows pay the anti-join exchange; false positives are then
    * resolved EXACTLY by the same anti-join, so the output is bit-identical
    * to incrementalDedup at any false-positive rate (spec-pinned equality).
    *
    * Scale shape: the filter BUILDS distributed — standing digests explode
    * to k bit positions, one narrow (word, bit_or) aggregation, and only
    * m/64 longs collect to the driver (control-plane, independent of corpus
    * size; a 10^10-digest set at 1% FP is ~12 GiB of bits — at that size the
    * word array rides a broadcast variable inside a kernel expression, the
    * graft_srp_buckets precedent, instead of plan literals). The probe is
    * row-local xxhash64 + bit tests (codegen'd, zero shuffle). For a mostly-
    * novel crawl batch the anti-join input shrinks to FP-rate · batch. */
  def bloomIncrementalDedup(existing: DataFrame, batch: DataFrame,
                            bits: Int = 1 << 16, nHashes: Int = 5): DataFrame = {
    require(bits >= 64 && bits % 64 == 0 && nHashes >= 1, s"bits=$bits k=$nHashes")
    val digest = md5(col("text").cast("binary"))
    def probe(i: Int, d: Column) = pmod(xxhash64(lit(i), d), lit(bits.toLong))
    val built = existing.select(digest.as("d"))
      .select(explode(array((0 until nHashes).map(i => probe(i, col("d"))): _*)).as("bit"))
      .select(expr("CAST(bit DIV 64 AS INT)").as("w"),
        expr("shiftleft(1L, CAST(bit % 64 AS INT))").as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("m"))
      .collect()
    val words = new Array[Long](bits / 64)
    built.foreach(r => words(r.getInt(0)) = r.getLong(1))
    val probed = (0 until nHashes).foldLeft(
      batch.select(col("doc_id"), digest.as("content_md5"))
        .withColumn("bloom", array(words.map(lit(_)): _*))) { (df, i) =>
      df.withColumn(s"b$i", probe(i, col("content_md5")))
        .withColumn(s"hit$i", expr(
          s"(element_at(bloom, CAST(b$i DIV 64 AS INT) + 1)" +
          s" & shiftleft(1L, CAST(b$i % 64 AS INT))) != 0"))
    }
    // localCheckpoint both reused tables: `flagged` feeds TWO filters (its
    // md5 + k probes would run twice, re-derived inside each filter), and
    // `seen` is the standing digest index ([[incrementalDedup]]'s rationale)
    val flagged = probed.select(col("doc_id"), col("content_md5"),
      (0 until nHashes).map(i => col(s"hit$i")).reduce(_ && _).as("might"))
      .localCheckpoint()
    val seen = existing.select(digest.as("content_md5")).distinct()
      .localCheckpoint()
    val maybe = flagged.filter(col("might"))
      .join(seen, Seq("content_md5"), "left_anti")
    flagged.filter(!col("might")).select(col("doc_id"), col("content_md5"))
      .union(maybe.select(col("doc_id"), col("content_md5")))
      .groupBy(col("content_md5")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("content_md5"))
      .orderBy("doc_id")
  }

  /** Line-level dedup — the C4 repeated-span REMOVAL transform (Raffel et
    * al. 2020 §2.2, public: "we discarded any three-sentence span occurring
    * more than once in the data set"). d25 measures the repeated-span
    * signal; this op REWRITES the text: each document is cut into
    * non-overlapping `segTokens`-token segments (the deterministic analog of
    * C4's sentence spans — this corpus has no sentence boundaries), a
    * segment occurring in ≥ `minDocs` distinct documents is boilerplate, and
    * `clean_text` is the document with those segments dropped (original
    * order preserved; empty string when everything drops). Returns
    * (doc_id, n_segs, n_removed, clean_text).
    *
    * Scale shape: the exploded frame carries (doc_id, seg_idx, 16-byte
    * digest) — segment TEXT never crosses an exchange. The global occurrence
    * count groups by digest; the removal list joins back digest-keyed and
    * collapses to one (doc_id, removed-idx array) row per AFFECTED doc —
    * bounded by the boilerplate mass, orders smaller than the corpus. The
    * rewrite itself is a doc_id equi-join of docs against that small side
    * plus a row-local re-segmentation (higher-order functions, no UDF). */
  def lineDedup(docs: DataFrame, segTokens: Int = 4, minDocs: Int = 2): DataFrame = {
    require(segTokens >= 1 && minDocs >= 2, s"segTokens=$segTokens minDocs=$minDocs")
    val ws = split(col("text"), " ")
    val nSegs = ceil(size(ws).cast("double") / segTokens).cast("int")
    val segs = transform(sequence(lit(0), nSegs - 1), i => struct(
      i.cast("long").as("seg_idx"),
      concat_ws(" ", slice(ws, i * segTokens + 1, lit(segTokens))).as("seg")))
    val exploded = docs.select(col("doc_id"), explode(segs).as("s"))
      .select(col("doc_id"), col("s.seg_idx").as("seg_idx"), md5(col("s.seg")).as("h"))
    val dup = exploded.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs).select("h")
    val removed = exploded.join(dup, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("seg_idx")).as("rm"), count(lit(1)).as("n_rm"))
    docs.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        nSegs.cast("long").as("n_segs"),
        coalesce(col("n_rm"), lit(0L)).cast("long").as("n_removed"),
        array_join(transform(
          filter(segs, s =>
            !coalesce(array_contains(col("rm"), s("seg_idx")), lit(false))),
          s => s("seg")), " ").as("clean_text"))
      .orderBy("doc_id")
  }
}
