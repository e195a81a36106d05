package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.expressions.{BpeKernel, GraftExpressions}

/** Text-analysis operators for the training-data pipeline, over the driver's
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All of these are pure `org.apache.spark.sql.functions` compositions
  * (whole-stage-codegen'd; no UDFs), each with an exact DuckDB-expressible
  * semantics so the driver's oracle can verify them bit-for-bit. Reference
  * analogs noted per function (SURVEY.md §2.2/§2.4/§2.8).
  */
object TextFunctions {

  /** Whitespace token array (the shared primitive; ≡ get_word_info's
    * word segmentation, ppocr/postprocess/rec_postprocess.py:72-136). */
  def tokens(text: Column): Column = split(text, " ")

  /** Stopword lexicon (tiny, fixed; the graft of the reference's char dict —
    * broadcast-small reference data, rec_postprocess.py:26-51). */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Per-document token/char statistics. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")

  /** BPE-ish pre-tokenizer pattern (the GPT-2 family shape, lookahead-free so
    * the SAME pattern runs identically under Java regex and DuckDB's RE2):
    * English contractions, optional-space letter runs, optional-space digit
    * runs, optional-space punctuation runs. */
  val bpePattern: String =
    "('s|'t|'re|'ve|'m|'ll|'d)|( ?[A-Za-zÀ-ÿ]+)|( ?[0-9]+)|( ?[^A-Za-zÀ-ÿ0-9 ]+)"

  /** BPE-ish token counting (builder prompt: "whitespace + a BPE-ish regex"):
    * counts sub-word-style tokens per document next to the whitespace count.
    * Pure codegen'd regexp — one pass, no UDFs. */
  def bpeTokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
        .cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Quality scoring: length/punctuation/stopword ratios — the graft of the
    * reference's drop_score confidence gate inputs (block features that feed
    * a keep/drop decision, tools/infer/predict_system.py:149-154).
    * All ratios double, rounded to 4dp for cross-engine determinism.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val ws = tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(ws).cast("long").as("n_tokens"),
      round(length(col("text")).cast("double") / size(ws), 4).as("avg_token_len"),
      round(length(regexp_replace(col("text"), "[^0-9]", "")).cast("double")
        / greatest(length(col("text")), lit(1)), 4).as("digit_ratio"),
      round(size(filter(ws, w => array_contains(stopArr, w))).cast("double")
        / greatest(size(ws), lit(1)), 4).as("stopword_ratio"))
      .orderBy("doc_id")
  }

  /** Marker lexicons for the language-ID vote (public-knowledge function
    * words; the heuristic itself is the deliverable, per-token equality —
    * not substring — so it is exactly expressible in SQL too). Markers are
    * chosen to be unambiguous across the covered set; no-space scripts
    * (ja/ko/th) vote via [[shingleMarkers]] substring counts instead. The DuckDB
    * oracle builds its VALUES tables from these same Seqs, so the two sides
    * can never drift. */
  // Markers must be UNAMBIGUOUS across the covered set — that is the whole
  // contract of a tiny marker vote. The r5 audit replaced the offenders the
  // original lists carried: en "a"/"is" (pt/es/it article; nl copula),
  // es "de"/"es" (Portuguese's most frequent word; German pronoun),
  // fr "la" (es/it article), de "das" (pt contraction) — each had other
  // languages' top function words voting for the wrong label on REAL text
  // (a Portuguese page's 'de'≈4% of tokens out-voted every pt marker).
  // Replacements are language-exclusive within the set: with/this (en),
  // muy/pero (es; it has 'però'), dans (fr), nicht (de; nl has 'niet').
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "and", "en" -> "of", "en" -> "this", "en" -> "with",
    "de" -> "der", "de" -> "die", "de" -> "und", "de" -> "ist", "de" -> "nicht",
    "fr" -> "le", "fr" -> "dans", "fr" -> "et", "fr" -> "est", "fr" -> "les",
    "es" -> "el", "es" -> "los", "es" -> "y", "es" -> "pero", "es" -> "muy",
    "zh" -> "的", "zh" -> "是", "zh" -> "了", "zh" -> "在", "zh" -> "我",
    "ru" -> "и", "ru" -> "в", "ru" -> "не", "ru" -> "на", "ru" -> "что",
    "pt" -> "não", "pt" -> "uma", "pt" -> "você", "pt" -> "são", "pt" -> "também",
    "it" -> "di", "it" -> "che", "it" -> "della", "it" -> "sono", "it" -> "anche",
    "nl" -> "het", "nl" -> "een", "nl" -> "niet", "nl" -> "voor", "nl" -> "zijn",
    "ar" -> "في", "ar" -> "من", "ar" -> "على", "ar" -> "أن", "ar" -> "هذا",
    // Devanagari function words — hi is space-separated, so token equality
    // works; the script is exclusive to hi within the covered set
    "hi" -> "है", "hi" -> "और", "hi" -> "के", "hi" -> "में", "hi" -> "का")

  /** Shingle markers for no-space scripts (ja/ko/th): these languages don't
    * tokenize on whitespace, so the vote counts marker OCCURRENCES as
    * substrings of the raw text (still row-local, still zero-shuffle, and
    * SQL-expressible as (len(text) − len(replace(text, m, ''))) / len(m)).
    * Hiragana particles / hangul endings / Thai function words are
    * script-exclusive, so they can't fire on any other covered language. */
  val shingleMarkers: Seq[(String, String)] = Seq(
    "ja" -> "の", "ja" -> "は", "ja" -> "を", "ja" -> "が", "ja" -> "です",
    "ko" -> "의", "ko" -> "는", "ko" -> "을", "ko" -> "하다", "ko" -> "습니다",
    "th" -> "และ", "th" -> "ที่", "th" -> "ใน", "th" -> "ของ", "th" -> "ได้")

  /** N-gram-heuristic language ID as a ZERO-SHUFFLE map-side vote, compiled:
    * the whole per-row vote (token-equality counts for the 11 space-separated
    * languages, substring-occurrence counts for ja/ko/th, argmax with the
    * (votes desc, lang asc) tie-break) runs as ONE codegen'd Catalyst
    * expression (`graft_lang_best`, LangIdKernel) over the UTF-8 bytes. The
    * r2 formulation used higher-order array lambdas — row-local but
    * INTERPRETED, a measured ~30% CPU premium the kernel removes; the r1
    * version exploded every token and shuffled (doc, lang) vote pairs twice.
    * Docs with no marker hits predict "und". The kernel, this projection,
    * and the DuckDB oracle all derive from the same marker Seqs. */
  def langId(docs: DataFrame): DataFrame = {
    import graft.expressions.{GraftExpressions, LangIdKernel}
    val langs = LangIdKernel.langsAsc.toSeq :+ "und" // undIndex points past the end
    val packed = GraftExpressions.langBest(col("text"))
    docs.select(
        col("doc_id"),
        element_at(array(langs.map(lit): _*),
          packed.bitwiseAND(lit(15L)).cast("int") + 1).as("pred_lang"),
        shiftrightunsigned(packed, 4).as("votes"),
        (element_at(array(langs.map(lit): _*),
          packed.bitwiseAND(lit(15L)).cast("int") + 1) === col("lang"))
          .as("matches_label"))
      .orderBy("doc_id")
  }

  /** Token-repetition quality signals — the Gopher-rule repetition family
    * (Rae et al. 2021, "Scaling Language Models: ... Gopher", §A1.1: pages
    * dominated by one token or one n-gram are boilerplate/spam and get
    * dropped; public methodology). Per document: distinct-token ratio
    * (type–token ratio), most-frequent-token fraction, and most-frequent-
    * bigram fraction, each rounded to 4dp for cross-engine determinism.
    *
    * Shape: ROW-LOCAL — repetition is a per-document property, so the
    * original (doc_id, gram) shuffles (one per width, map-side combined)
    * were unnecessary work at any scale; the `graft_gopher_rep` kernel (the
    * d48 rewrite, one hash-map pass per width) plus `array_distinct` for the
    * type count make the whole signal set scan-shaped. The fractions keep
    * the exact relational arithmetic (same doubles, same 4dp round), so the
    * DuckDB oracle match is unchanged. */
  /** Token-side repetition stats only — no bigram pass. This IS the
    * repetition gate's input (d18): a composition that filters on
    * token-side columns alone should not pay for the bigram width
    * [[repetitionSignals]] adds for the full d14 signal set. */
  def tokenRepetition(docs: DataFrame): DataFrame = {
    import graft.expressions.GraftExpressions
    docs.where(col("text").isNotNull) // relational form drops null-text docs
      .select(col("doc_id"),
        get(GraftExpressions.gopherRep(col("text"), Seq(1)), lit(0)).as("r1"),
        size(array_distinct(tokens(col("text")))).cast("long").as("n_distinct"))
      .select(col("doc_id"),
        col("r1.n_grams").as("n_tokens"),
        col("n_distinct"),
        round(col("n_distinct").cast("double") / col("r1.n_grams"), 4)
          .as("distinct_ratio"),
        round(col("r1.top_count").cast("double") / col("r1.n_grams"), 4)
          .as("top_token_frac"))
  }

  def repetitionSignals(docs: DataFrame): DataFrame = {
    import graft.expressions.GraftExpressions
    // the kernel array is projected ONCE, then indexed from the projected
    // column: CollapseProject never inlines a non-cheap expression into two
    // references, so the per-row hash-map pass runs exactly once
    docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        GraftExpressions.gopherRep(col("text"), Seq(1, 2)).as("rep"),
        size(array_distinct(tokens(col("text")))).cast("long").as("n_distinct"))
      .select(col("doc_id"),
        get(col("rep"), lit(0)).as("r1"), // width 1: always present (≥1 token)
        get(col("rep"), lit(1)).as("r2"), // width 2: null when the doc has 1 token
        col("n_distinct"))
      .select(col("doc_id"),
        col("r1.n_grams").as("n_tokens"),
        col("n_distinct"),
        round(col("n_distinct").cast("double") / col("r1.n_grams"), 4)
          .as("distinct_ratio"),
        round(col("r1.top_count").cast("double") / col("r1.n_grams"), 4)
          .as("top_token_frac"),
        coalesce(col("r2.n_grams"), lit(0L)).cast("long").as("n_bigrams"),
        coalesce(round(col("r2.top_count").cast("double") / col("r2.n_grams"), 4),
          lit(0.0)).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Fixed-size token windows with stride — the sample-packing op that turns
    * variable-length documents into training examples (context-window
    * chunking with overlap; public methodology in every LM data pipeline).
    * Docs with ≤ `window` tokens yield ONE (possibly short) window; otherwise
    * ceil((n − window)/stride) + 1 windows, the last one truncated. Pure
    * row-local explode — zero shuffle beyond the presentation sort; window
    * arithmetic is integer-exact and SQL-expressible (oracle-checked). */
  def tokenWindows(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    // stride > window would make the nWin formula emit phantom windows whose
    // start lies past the end of the doc (negative n_window_tokens); gap
    // sampling is a different op — this one tiles with overlap or adjacency
    require(stride <= window, s"stride $stride must not exceed window $window")
    val base = docs.select(col("doc_id"), tokens(col("text")).as("ws"))
    val nWin = when(size(col("ws")) <= window, lit(1))
      .otherwise(ceil((size(col("ws")) - window).cast("double") / stride)
        .cast("int") + 1)
    base.select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), nWin - 1)).as("wi"))
      .select(col("doc_id"),
        col("wi").cast("long").as("window_idx"),
        (col("wi") * stride).cast("long").as("start_tok"),
        least(lit(window), size(col("ws")) - col("wi") * stride)
          .cast("long").as("n_window_tokens"),
        concat_ws(" ", slice(col("ws"), col("wi") * stride + 1, lit(window)))
          .as("window_text"))
      .orderBy("doc_id", "window_idx")
  }

  /** Deterministic mixture sampling — per-language keep rates applied through
    * a CONTENT-STABLE hash, never rand(): md5 of a salted doc id compared
    * against the rate's hex threshold. The same doc gets the same verdict on
    * every run, engine, and partitioning — the property that makes sampling
    * resumable and auditable at 10^12 rows (the data-mixture step of corpus
    * construction: up-weight/down-weight sources by keep rate). Languages
    * absent from `rates` keep everything (rate 1.0). Zero shuffle. */
  def mixtureSample(docs: DataFrame, rates: Map[String, Double]): DataFrame = {
    val h = md5(concat(lit("mix:"), col("doc_id").cast("string")).cast("binary"))
    // lexicographic compare of the first 8 lowercase hex chars == numeric
    // compare of the top 32 bits — identical in Spark and DuckDB (d04's md5
    // parity), no hex→int conversion needed on either side
    // rate boundaries short-circuit: ≥1.0 keeps ALL (the strict < against a
    // clamped "ffffffff" threshold would drop the 1-in-2^32 docs hashing to
    // exactly that prefix — at 10^12 rows a real, silent loss) and ≤0.0
    // drops all; the oracle builder mirrors these cases (TRUE/FALSE)
    val keep = rates.foldLeft(when(lit(false), lit(false))) { case (acc, (lang, r)) =>
      val verdict =
        if (r >= 1.0) lit(true)
        else if (r <= 0.0) lit(false)
        else substring(h, 1, 8) < lit(hexThreshold(r))
      acc.when(col("lang") === lang, verdict)
    }.otherwise(lit(true))
    docs.select(col("doc_id"), col("lang"), keep.as("keep"))
      .orderBy("doc_id")
  }

  /** 8-hex-digit threshold for a keep rate in [0, 1]. */
  def hexThreshold(rate: Double): String = {
    val t = math.min(math.max((rate * 4294967296.0).toLong, 0L), 4294967295L)
    String.format(java.util.Locale.ROOT, "%08x", java.lang.Long.valueOf(t))
  }

  /** Per-source scorecard — the source-level weighting/drop decision of a
    * web-corpus build (C4/RefinedWeb drop or down-weight whole sources by
    * their measured quality; public methodology): per source, document count,
    * distinct-content count (md5), duplication ratio, and token mass. One
    * aggregation keyed by source (tiny cardinality — a broadcast-joinable
    * scorecard at any corpus size); the distinct count shuffles the 16-byte
    * digest, never the text. */
  def sourceScorecard(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        md5(col("text").cast("binary")).as("h"),
        size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        count_distinct(col("h")).cast("long").as("n_distinct"),
        sum(col("nt")).cast("long").as("total_tokens"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_docs"), 4)
          .as("dup_ratio"),
        col("total_tokens"),
        round(col("total_tokens").cast("double") / col("n_docs"), 4)
          .as("avg_doc_tokens"))
      .orderBy("source")

  /** Document fingerprinting: content hash + structural summary — the graft of
    * the reference's golden-compare identity per input
    * (test_tipc/compare_results.py:11-60). md5 is the cross-engine-exact hash.
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    val ws = tokens(col("text"))
    docs.select(
      col("doc_id"),
      md5(col("text").cast("binary")).as("content_md5"),
      element_at(ws, 1).as("first_token"),
      element_at(ws, -1).as("last_token"),
      length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** Word-level spans: each token with its [start, end) character offsets
    * inside the document text — the graft of get_word_info / cal_ocr_word_box
    * (ppocr/postprocess/rec_postprocess.py:72-136, ppstructure/utility.py:
    * 243-298: sub-block word boxes from the block-level result). Offsets
    * partition the single-spaced text exactly (property-tested): start of
    * word k = sum of previous word lengths + k separators. Pure window
    * arithmetic — one narrow shuffle on doc_id, no UDFs. */
  def wordSpans(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("word_idx", "word")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("word_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("start_off",
        (coalesce(sum(length(col("word"))).over(w), lit(0)) + col("word_idx")).cast("long"))
      .select(col("doc_id"), col("word_idx").cast("long").as("word_idx"), col("word"),
        col("start_off"),
        (col("start_off") + length(col("word"))).cast("long").as("end_off"))
      .orderBy("doc_id", "word_idx")
  }

  /** RTL display-order recovery — the exact graft of pred_reverse
    * (ppocr/postprocess/rec_postprocess.py:53-67): split the string into
    * maximal runs of the LTR-safe class [a-zA-Z0-9 :*./%+-] and single chars
    * of everything else, then reverse the segment order. Applied by the
    * reference when the rec dictionary is RTL (arabic family); surfaced here
    * as an opt-in column function (extraction keeps logical order, the
    * documented contract for RTL pages). Pure codegen'd expressions. */
  def predReverse(c: Column): Column =
    array_join(
      reverse(regexp_extract_all(c,
        lit("[a-zA-Z0-9 :*./%+-]+|[^a-zA-Z0-9 :*./%+-]"), lit(0))),
      "")

  /** Corpus-wide token frequency top-k — the vocabulary-induction pass that
    * feeds tokenizer training (BPE/WordPiece start from exactly this table;
    * public methodology). ONE narrow (token, count) shuffle with map-side
    * combine, then a global top-k that plans as TakeOrderedAndProject
    * (per-partition top-k merged on the driver — never a single-partition
    * window). Tie-break on the token string so rank boundaries are
    * engine-deterministic. */
  def vocabTopK(docs: DataFrame, k: Int): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)

  /** Dictionary hit-rate quality signal — the C4/Gopher-style "fraction of
    * words in a reference dictionary" filter, with the dictionary induced
    * from the corpus itself: its top-k tokens by frequency (the [[vocabTopK]]
    * kernel). Per doc: token count, in-dictionary count, and the OOV
    * fraction a quality cascade thresholds on.
    *
    * Scale shape: the dictionary is top-K CAPPED, so the probe is a
    * broadcast hash join no matter how large the corpus vocabulary grows —
    * the rare tail (the unboundedly-large side of any frequency split)
    * never ships. Tokens stay in the scan stage via explode; both per-doc
    * counts combine map-side before their one narrow exchange. */
  def dictionaryHitRate(docs: DataFrame, k: Int): DataFrame = {
    // localCheckpoint (the d18/x13 discipline): this table feeds the hits
    // join, the per-doc count, AND the dictionary derivation — without it
    // the tokenize+explode scan (the dominant cost) plans three times
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .localCheckpoint()
    val dict = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(k).select(col("token"))
    val hits = toks.join(broadcast(dict), Seq("token"))
      .groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("n_in_dict"))
    val nid = coalesce(col("n_in_dict"), lit(0L)).cast("long")
    toks.groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("n_tokens"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), nid.as("n_in_dict"),
        round((col("n_tokens") - nid).cast("double") / col("n_tokens"), 4)
          .as("oov_fraction"))
      .orderBy("doc_id")
  }

  /** Adjacent character-pair counts within tokens — the statistic the FIRST
    * BPE merge step maximizes (Sennrich et al. 2016, public): every
    * length-≥2 token contributes its len−1 adjacent pairs, counted
    * corpus-wide, top-k by count. Same scale shape as [[vocabTopK]]: explode
    * stays in the scan stage, one combining shuffle, TakeOrdered top-k.
    * Character-based (`substring`/`length` count codepoints in both Spark
    * and DuckDB) so multibyte letters pair correctly. */
  def bpePairCounts(docs: DataFrame, k: Int): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).cast("long").as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(k)

  /** PII patterns for redaction — the scrub pass every public web-corpus
    * build runs before training (C4 removed lines with bad words; RefinedWeb
    * and the Pile scrub emails/phones/IPs — public methodology). Patterns are
    * deliberately lookahead-free with explicit char classes (no `\d`/`\w`)
    * so the SAME string compiles identically under Java regex and DuckDB's
    * RE2 — the d13 bpePattern precedent. */
  val emailPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
  val phonePattern: String = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val ipPattern: String =
    "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

  /** Sequential PII scrub of a text column: emails → `<EMAIL>`, then phone
    * numbers → `<PHONE>`, then IPv4 literals → `<IP>`. Order matters and is
    * part of the contract: each later pattern sees the earlier redactions
    * (an email's digits can never double-count as a phone). Pure codegen'd
    * `regexp_replace` chain — one pass per pattern, no UDFs, no shuffle;
    * at 10^12 rows this stays fully inside WholeStageCodegen next to the
    * extraction kernel. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>"),
      ipPattern, "<IP>")

  /** Per-document PII scrub report: counts per category (counted on the
    * partially-redacted text, matching [[redactPii]]'s sequential contract)
    * plus the md5 of the fully redacted text — the audit row a corpus build
    * logs per document. `withText` lets callers inject planted PII for
    * fixtures; production passes identity. */
  def piiRedact(docs: DataFrame, withText: Column => Column = identity): DataFrame = {
    val t0 = withText(col("text"))
    val t1 = regexp_replace(t0, emailPattern, "<EMAIL>")
    val t2 = regexp_replace(t1, phonePattern, "<PHONE>")
    val t3 = regexp_replace(t2, ipPattern, "<IP>")
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(t0, lit(emailPattern), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t1, lit(phonePattern), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(t2, lit(ipPattern), lit(0))).cast("long").as("n_ips"),
      md5(t3.cast("binary")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** `merges` as a broadcast table for [[GraftExpressions.bpeMerge]], the
    * one merge kernel of [[bpeLearn]] and [[bpeEncode]]. */
  private def broadcastMerges(docs: DataFrame,
                              merges: Seq[(String, String)]): Broadcast[BpeKernel.Table] =
    docs.sparkSession.sparkContext.broadcast(BpeKernel.table(merges))

  /** BPE ENCODING with a learned merge table — the apply side of
    * [[bpeLearn]] (train on a slice, tokenize the corpus): each word
    * char-splits, then every merge applies IN RANK ORDER through the merge
    * kernel. Emits per doc the word count and the resulting subword count —
    * the fertility/compression statistic a tokenizer rollout reports.
    *
    * Scale shape: zero shuffle — the merge table is a broadcast variable
    * (the plan holds one handle at any vocab size, the graft_srp_buckets
    * precedent) and the kernel runs row-local inside the scan stage at any
    * corpus size. Merge tokens are space-free pieces, as [[bpeLearn]]
    * emits them. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    require(merges.forall { case (l, r) => !l.contains(' ') && !r.contains(' ') },
      "BPE merge tokens cannot contain ' '")
    val seqs0 = transform(tokens(col("text")),
      w => rtrim(regexp_replace(w, "(.)", "$1 ")))
    val table = broadcastMerges(docs, merges)
    val seqs = transform(seqs0, s => GraftExpressions.bpeMerge(s, table))
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_words"),
      aggregate(seqs, lit(0L),
        (acc, s) => acc + size(split(s, " ")).cast("long")).as("n_subwords"))
      .orderBy("doc_id")
  }

  /** BPE tokenizer TRAINING — the full merge loop of Sennrich et al. 2016
    * (public): [[bpePairCounts]] is step 1; THIS runs the whole algorithm
    * for `nMerges` rounds. Each round: adjacent-pair counts over the word
    * dictionary (ONE combining shuffle), global argmax with a total
    * tie-order (count desc, left asc, right asc — engine-deterministic),
    * then the greedy leftmost-first non-overlapping merge applied row-local
    * by the merge kernel (a one-merge broadcast table per round). Returns the learned
    * merge table (step, left_tok, right_tok, merged, pair_count) — the
    * artifact a tokenizer trainer persists.
    *
    * Scale shape (10^12 docs): the working set is the Sennrich dictionary —
    * DISTINCT words with corpus frequencies, built by one (word, count)
    * aggregation; every subsequent round touches only that table (vocabulary
    * cardinality, not corpus cardinality). The per-round exchange carries
    * (pair, freq) post-combine; the argmax collects ONE row (control
    * plane); rounds are sequential BY NATURE (round r+1's counts depend on
    * r's merge) — the vocab-size loop every production BPE trainer runs.
    * Each round's merge is localCheckpointed so round k never re-executes
    * rounds 1..k−1 (the x13/d18 discipline). */
  def bpeLearn(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nMerges >= 1, s"nMerges=$nMerges")
    // seq = word chars joined by ' ' (tokens are space-split, so ' ' can
    // never occur INSIDE a token — the provably-safe separator)
    var words = docs
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("freq"))
      .select(rtrim(regexp_replace(col("w"), "(.)", "$1 ")).as("seq"), col("freq"))
      .localCheckpoint()
    val out = scala.collection.mutable.ListBuffer[(Long, String, String, String, Long)]()
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val ts = split(col("seq"), " ")
      val top = words
        .filter(size(ts) >= 2)
        .select(col("freq"), explode(transform(sequence(lit(0), size(ts) - 2),
          i => struct(element_at(ts, i + 1).as("l"),
            element_at(ts, i + 2).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getString(0); val r = top(0).getString(1)
        out += ((step.toLong, l, r, l + r, top(0).getLong(2)))
        val prev = words
        words = words.select(
          GraftExpressions.bpeMerge(col("seq"), broadcastMerges(words, Seq((l, r)))).as("seq"),
          col("freq")).localCheckpoint()
        // only the newest dictionary is ever read again — at production
        // vocab sizes (32k rounds) keeping every round's checkpoint would
        // grow executor storage linearly with rounds
        prev.unpersist()
        step += 1
      }
    }
    out.toSeq.toDF("step", "left_tok", "right_tok", "merged", "pair_count")
      .orderBy("step")
  }

  /** The Gopher document-quality GATE (Rae et al. 2021, appendix A1.1 —
    * public methodology): the composed keep/drop verdict the published
    * corpus build applies, complementing [[repetitionSignals]] (its
    * repetition half) and [[qualityScore]] (the generic signals). Rules, all
    * INTEGER-EXACT (rational cross-multiplication, the d37 boundary
    * discipline — both engines agree at thresholds bit-for-bit):
    *  - word count in [50, 100,000];
    *  - mean word length in [3, 10] (sum of word chars = length − (n−1),
    *    an identity of the single-space token join);
    *  - symbol-to-word ratio ≤ 0.1 (`#` chars + non-overlapping `...`);
    *  - ≥80 % of words contain an alphabetic character;
    *  - ≥2 distinct stopwords present (the [[stopwords]] lexicon).
    * Emits each rule verdict plus the final keep — a pipeline audits WHICH
    * rule dropped a page, not just that one did.
    *
    * Scale shape: zero shuffle — row-local projections and higher-order
    * filters inside the scan stage at any corpus size. */
  def gopherGate(docs: DataFrame): DataFrame = {
    val ws = tokens(col("text"))
    val nw = size(ws).cast("long")
    val sumLen = (length(col("text")) - (nw - 1)).cast("long")
    val nHash = (length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))).cast("long")
    val nEll = ((length(col("text")) -
      length(regexp_replace(col("text"), "[.][.][.]", ""))) / 3).cast("long")
    val nAlpha = size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("long")
    val nStop = stopwords.map(w => when(array_contains(ws, w), 1L).otherwise(0L))
      .reduce(_ + _)
    val cWords = nw >= 50L && nw <= 100000L
    val cMeanLen = sumLen >= nw * 3L && sumLen <= nw * 10L
    val cSymbol = (nHash + nEll) * 10L <= nw
    val cAlpha = nAlpha * 5L >= nw * 4L
    val cStop = nStop >= 2L
    docs.select(
      col("doc_id"),
      nw.as("n_words"),
      sumLen.as("sum_word_chars"),
      (nHash + nEll).as("n_symbols"),
      nAlpha.as("n_alpha_words"),
      nStop.as("n_stopwords"),
      cWords.as("c_words"), cMeanLen.as("c_mean_len"), cSymbol.as("c_symbol"),
      cAlpha.as("c_alpha"), cStop.as("c_stop"),
      (cWords && cMeanLen && cSymbol && cAlpha && cStop).as("keep"))
      .orderBy("doc_id")
  }

  /** Character class of encoding damage: C0 controls except tab/LF/CR, DEL
    * plus the C1 band U+0080–U+009F (the classic latin-1/cp1252 mojibake
    * range — a UTF-8 page decoded as latin-1 lands its continuation bytes
    * here), and U+FFFD (a decoder's replacement character). Shared verbatim
    * with the DuckDB oracle; `\x{..}` class syntax parses identically under
    * Java regex and RE2 (the d13/d21 precedent). */
  val badCharPattern: String =
    "[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}-\\x{9F}\\x{FFFD}]"

  /** Encoding-error / mojibake signal — the decode-health gate of a web
    * corpus build (CCNet and friends drop pages whose charset decode left
    * replacement chars or control garbage; the reference's DecodeImage
    * analogue is its charset-sniff path, ppocr/data/imaug/operators.py:29-61
    * — our HtmlTokenizer sniffs too, and THIS op audits what survived).
    * Emits per doc: char count, damaged-char count, damage fraction, and the
    * keep verdict (zero damaged chars). `withText` injects deterministic
    * damage for fixtures; production passes identity.
    *
    * Scale shape: one codegen'd regexp pass per row, zero shuffle — rides
    * the scan stage at any corpus size (the d21 redaction discipline). */
  def encodingErrorSignal(docs: DataFrame,
                          withText: Column => Column = identity): DataFrame = {
    val t = withText(col("text"))
    val nChars = length(t).cast("long")
    val nBad = (length(t) - length(regexp_replace(t, badCharPattern, ""))).cast("long")
    docs.select(
      col("doc_id"),
      nChars.as("n_chars"),
      nBad.as("n_bad"),
      round(nBad.cast("double") / greatest(nChars, lit(1L)).cast("double"), 6)
        .as("bad_fraction"),
      (nBad === 0L).as("keep"))
      .orderBy("doc_id")
  }

  /** Word 3-shingles of a token array column (empty when <3 tokens). */
  def shingles3(ws: Column): Column =
    when(size(ws) >= 3,
      transform(sequence(lit(0), size(ws) - 3),
        i => concat_ws(" ", element_at(ws, i + 1), element_at(ws, i + 2), element_at(ws, i + 3))))
      .otherwise(array().cast("array<string>"))

  /** Word n-shingles for any n ≥ 1 (empty when the doc has fewer than n
    * tokens) — generalizes [[shingles3]] for the decontamination n-gram. */
  def shinglesN(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** MinHash signature, k hash functions realized as md5 with a seed prefix
    * (min over hex strings — total order, engine-independent). Docs with <3
    * tokens get null signature slots. SURVEY.md training-data dedup op.
    *
    * Shape: explode shingles to rows, then k `min` aggregations in ONE
    * groupBy — a single narrow shuffle of (doc_id, shingle) pairs with
    * map-side combine. A zero-shuffle `array_min(transform(...))` rewrite
    * was MEASURED ~7× slower per evaluation: higher-order lambdas evaluate
    * interpreted (md5 per element outside codegen) while the exploded path
    * keeps md5 inside WholeStageCodegen, and self-joins downstream (d07/d08)
    * re-evaluate a row-local projection once per side whereas the exchange
    * here is computed once and reused. The shuffle is small (doc_id +
    * shingle) and combines map-side — it IS the materialization point. */
  def minhashSignature(docs: DataFrame, k: Int): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("ws"))
    val sh = base.filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(shingles3(col("ws"))).as("s"))
    val aggs = (0 until k).map { i =>
      min(md5(concat(lit(s"$i:"), col("s")).cast("binary"))).as(s"mh$i")
    }
    val sig = sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    base.select(col("doc_id")).join(sig, Seq("doc_id"), "left").orderBy("doc_id")
  }

  /** 16-plane SimHash from the top bit of each md5 nibble, per token
    * occurrence: plane d is 1 iff the majority of tokens have md5 hex digit
    * d+1 in [8..f]. Exactly expressible in SQL (oracle-checked); the 64-bit
    * production variant (and the SCALE path — a compiled single-pass
    * Catalyst expression, zero shuffle) lives in Dedup.simhash64. This
    * oracle variant deliberately keeps the exploded codegen'd shape: a
    * row-local transform/filter rewrite measured 2× slower (higher-order
    * lambdas evaluate interpreted). */
  def simhash16(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("h", md5(col("tok").cast("binary")))
    val voteCols = (0 until 16).map { d =>
      sum(when(substring(col("h"), d + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
        .otherwise(-1)).as(s"v$d")
    }
    val votes = toks.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
    val sim = (0 until 16).map { d =>
      when(col(s"v$d") > 0, lit(1L << d)).otherwise(lit(0L))
    }.reduce(_ + _)
    votes.select(col("doc_id"), sim.cast("long").as("simhash16")).orderBy("doc_id")
  }

  /** CCNet-style LM perplexity quality filter (Wenzek et al. 2020, public:
    * score web documents by a language-model perplexity and keep the
    * low-perplexity head). The LM here is the corpus's own add-one-smoothed
    * top-`vocabK` unigram model — the same induced-dictionary stance as d27;
    * a production deployment swaps in frozen counts from a reference corpus
    * (KenLM in CCNet) without touching the scoring shape. Per document:
    * `perplexity = exp(-1/N · Σ ln p(tok_i))` with
    * `p(tok) = (c_tok + 1) / (T + vocabK + 1)` (OOV ⇒ c = 0).
    *
    * Scale shape: the model is ONE narrow token-count aggregation capped to
    * top-K and collected as O(vocabK) control-plane state (the d27/e06
    * discipline — the rare tail never ships); scoring is a row-local fold
    * over the token array (zero shuffle, positional order, so the float sum
    * is deterministic at any parallelism). */
  def unigramPerplexity(docs: DataFrame, vocabK: Int = 100): DataFrame = {
    // localCheckpoint (d18/x13 discipline): the top-K collect and the total
    // both read the materialized counts — the corpus tokenize+explode scan
    // runs once, not once per downstream job.
    val counts = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val top = counts.orderBy(col("c").desc, col("token")).limit(vocabK).collect()
    // empty corpus: sum() is SQL-null (getLong would NPE); total 0 keeps the
    // add-one-smoothed denominator valid and the per-doc pass emits nothing
    val totalRow = counts.agg(sum(col("c"))).head
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    val denom = (total + vocabK + 1).toDouble
    val m = map(top.flatMap(r => Seq(lit(r.getString(0)), lit(r.getLong(1)))): _*)
    val ws = tokens(col("text"))
    val lnSum = aggregate(ws, lit(0.0), (acc, w) =>
      acc + log((coalesce(element_at(m, w), lit(0L)) + 1).cast("double") / lit(denom)))
    docs.select(col("doc_id"), size(ws).cast("long").as("n_tokens"),
        round(exp(lnSum * -1 / size(ws)), 4).as("perplexity"))
      .orderBy("doc_id")
  }

  /** fastText-style hashed bag-of-words linear quality classifier (Joulin
    * et al. 2017; the "Wikipedia-vs-CommonCrawl" keep/drop gate of the
    * GPT-3/LLaMA corpus builds). Each token hashes to a signed integer
    * weight in [-1000, 1000]; the document margin is the exact-integer
    * weight sum and `keep = margin >= 0` (normalize by 1000·n_tokens for a
    * [-1, 1] score downstream). The WEIGHTS
    * here are a deterministic md5 init — an honestly-labeled stand-in for a
    * trained table (no training data in this sandbox); the scoring plumbing
    * (hash → weight → row-local fold, exact integer margin) is the real,
    * production shape, and a trained table drops in as the same
    * token→weight lookup.
    *
    * Scale shape: zero shuffle — hashing and the fold are row-local; the
    * margin is an exact integer (order-independent), so results are
    * bit-identical at any parallelism. Trained weights at production vocab
    * sizes ride a broadcast map or a kernel expression (the
    * graft_srp_buckets precedent). */
  def hashedLinearScore(docs: DataFrame): DataFrame = {
    val ws = tokens(col("text"))
    def weight(tok: Column): Column =
      conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % 2001 - 1000
    val margin = aggregate(ws, lit(0L), (acc, t) => acc + weight(t))
    // the margin and token count are exact integers; the length-normalized
    // score margin/(1000·n) is left to the consumer — a rounded float here
    // lands on exact .5 ties (margin multiples vs powers of ten) where
    // HALF_UP-on-shortest-repr and raw-double rounding legitimately disagree
    docs.select(col("doc_id"), size(ws).cast("long").as("n_tokens"),
        margin.as("margin_raw"),
        (margin >= 0).as("keep"))
      .orderBy("doc_id")
  }

  /** BM25 keyword retrieval (Robertson/Spärck Jones; the Lucene-form idf —
    * public) — rank documents against a keyword query: the corpus-probe
    * capability of a curation pipeline (inspect dedup clusters, pull quality
    * strata, find contamination neighborhoods by keyword). Returns the top-k
    * (rank, doc_id, score).
    *
    * Scale shape: the term filter (`isin`) binds directly above the explode
    * in the SAME codegen stage — no exchange sees a non-matching token, so
    * everything past the scan stage is O(matching postings), never O(corpus
    * tokens). (At index-serving scale the standard move is a persisted
    * inverted index / token bloom filter to skip non-matching row groups;
    * this is the scan-time shape.) The df table is |query| rows (broadcast);
    * N and avgdl are O(1) control-plane aggregates. Per-doc scores fold in
    * TERM order (sort_array) so doubles are parallelism-bit-stable; across
    * ENGINES the idf's ln differs by 1 ulp on some inputs (JVM StrictMath vs
    * libm), so the surfaced score is rounded to 4 decimals and ranking runs
    * AFTER rounding with a doc_id tiebreak — rank boundaries cannot flip on
    * sub-rounding noise. */
  def bm25(docs: DataFrame, query: String, k: Int = 10,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = query.split(" ").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "empty query")
    val ws = tokens(col("text"))
    val stats = docs.agg(count(lit(1)), sum(size(ws).cast("long"))).head
    val nDocs = stats.getLong(0)
    // empty corpus: sum() is SQL-null and getLong would NPE; an empty
    // result is the honest answer (no division by zero either)
    if (nDocs == 0 || stats.isNullAt(1))
      return docs.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("score",
            org.apache.spark.sql.types.DoubleType))))
    val avgdl = stats.getLong(1).toDouble / nDocs
    val tf = docs.select(col("doc_id"), explode(ws).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dfTab = tf.groupBy(col("t")).agg(count_distinct(col("doc_id")).as("df"))
    val lens = docs.select(col("doc_id"), size(ws).cast("long").as("len"))
    val idf = log((lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val tfNorm = (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("len") / lit(avgdl)))
    val scored = tf.join(broadcast(dfTab), Seq("t")).join(lens, Seq("doc_id"))
      .select(col("doc_id"), col("t"), (idf * tfNorm).as("s"))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(round(aggregate(sort_array(collect_list(struct(col("t"), col("s")))),
        lit(0.0), (acc, x) => acc + x("s")), 4).as("score"))
    // Global top-k via orderBy+limit — Spark compiles this to a distributed
    // TakeOrderedAndProject (per-partition top-k, merged at the driver), not
    // the single-partition row_number window that would funnel every doc
    // matching a common query term through one task. The rank window then
    // runs over the k-row result only (control-plane sized by construction).
    val topk = perDoc.orderBy(col("score").desc, col("doc_id")).limit(k)
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    topk.select(row_number().over(w).cast("long").as("rank"),
        col("doc_id"), col("score"))
      .orderBy("rank")
  }

  /** Exact per-source token-length quantiles — the distribution report a
    * pipeline reads before picking Gopher/C4 length thresholds. For each
    * probability p: the SMALLEST length whose cumulative doc count reaches
    * `ceil(p · n)` (discrete/type-1 quantile — exact integers end to end, no
    * interpolation, so results are engine-exact).
    *
    * Scale shape: one (source, len) count with map-side combine collapses
    * the corpus to O(sources × distinct lengths) rows; the cumulative window
    * partitions BY SOURCE (parallel across sources) over that collapsed
    * table — never a window over raw docs. */
  def lengthQuantiles(docs: DataFrame,
                      ps: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1), ps.toString)
    val cnt = docs.select(col("source"),
        size(tokens(col("text"))).cast("long").as("len"))
      .groupBy(col("source"), col("len")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("source").orderBy("len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("source")
    val cum = cnt.select(col("source"), col("len"),
      sum(col("c")).over(wCum).as("cum"), sum(col("c")).over(wTot).as("n"))
    // math.round, not toInt: (0.29*100).toInt floor-truncates the binary
    // product to 28, mislabeling the column (and 0.99/0.999 could collide)
    val aggs = ps.map(p =>
      min(when(col("cum") >= ceil(lit(p) * col("n")), col("len")))
        .as(s"p${math.round(p * 100)}"))
    cum.groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"), aggs: _*)
      .orderBy("source")
  }

  /** Corpus scorecard with ROLLUP totals — (source, lang) token mass and doc
    * counts plus per-source and grand totals in one multi-dimensional
    * aggregation (one shuffle; the engine expands grouping sets map-side).
    * Exact-integer measures only. */
  def rollupScorecard(docs: DataFrame): DataFrame = {
    docs.rollup(col("source"), col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).cast("long").as("n_tokens"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("source"), col("lang"))
  }

  /** Token-offset shard packing — lay the corpus out (doc_id order) into
    * fixed-token-budget training shards: each document gets its global start
    * token offset and `shard_id = start_tok div shardTokens`, i.e. shard k
    * holds the documents whose packed text begins in [k·B, (k+1)·B). The
    * deterministic write-layout step between d16's window chunking and the
    * actual shard writer. Returns (doc_id, n_tokens, start_tok, shard_id).
    *
    * Scale shape: a global running sum ordered by doc_id is the textbook
    * single-partition-window scale-killer, so this is the two-level
    * distributed prefix sum instead — (1) per-bucket token sums via one
    * narrow groupBy on `bkt = doc_id div bucketDocs` (map-side combine);
    * (2) bucket prefix offsets on the BUCKET table, n_docs/bucketDocs rows —
    * control-plane sized, the only unpartitioned window runs there;
    * (3) offsets broadcast back and the per-doc running sum windows
    * PARTITIONED BY bkt — parallel across buckets. No doc-table exchange is
    * ever single-partition. */
  def shardPack(docs: DataFrame, shardTokens: Long,
                bucketDocs: Long = 4096L): DataFrame = {
    require(shardTokens >= 1 && bucketDocs >= 1, s"$shardTokens/$bucketDocs")
    startToks(docs, bucketDocs)
      .withColumn("shard_id", expr(s"start_tok div $shardTokens"))
      .orderBy("doc_id")
  }

  /** Global token start offset per doc in doc_id order — the two-level
    * distributed prefix sum shared by [[shardPack]] (d29) and [[seqPack]]
    * (d51); see shardPack's scaladoc for the scale argument. Returns
    * (doc_id, n_tokens, start_tok). */
  private def startToks(docs: DataFrame, bucketDocs: Long): DataFrame = {
    val t = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      expr(s"doc_id div $bucketDocs").as("bkt"))
    val wBkt = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy(col("bkt")).agg(sum(col("n_tokens")).as("bkt_tokens"))
      .select(col("bkt"), coalesce(sum(col("bkt_tokens")).over(wBkt), lit(0L)).as("bkt_off"))
    val wDoc = Window.partitionBy("bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t.join(broadcast(offsets), Seq("bkt"))
      .select(col("doc_id"), col("n_tokens"),
        (col("bkt_off") + coalesce(sum(col("n_tokens")).over(wDoc), lit(0L)))
          .as("start_tok"))
  }

  /** Sequence packing — the concat-and-chunk training-batch layout (the
    * GPT-style pretraining data step: concatenate the corpus in doc_id
    * order, cut it into fixed `seqLen`-token sequences, and keep the
    * doc→sequence span map that drives document-boundary attention masks).
    * One output row per (document, sequence) incidence: `seq_id`, the
    * document's span inside that sequence (`start_in_seq`, `n_in_seq`),
    * and `doc_tok_off` — which slice of the document the span carries (a
    * long document spans several sequences; a short one shares its
    * sequence with neighbors).
    *
    * Scale shape: global offsets come from the SAME two-level prefix sum
    * as [[shardPack]] (no single-partition window); the sequence explode
    * is row-local, bounded by ceil(n_tokens/seqLen)+1 rows per doc, and
    * emits scalars only. */
  def seqPack(docs: DataFrame, seqLen: Long,
              bucketDocs: Long = 4096L): DataFrame = {
    require(seqLen >= 1 && bucketDocs >= 1, s"$seqLen/$bucketDocs")
    startToks(docs, bucketDocs)
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        explode(sequence(expr(s"start_tok div $seqLen"),
          expr(s"(start_tok + n_tokens - 1) div $seqLen"))).as("seq_id"))
      .withColumn("seg_start", greatest(col("start_tok"), col("seq_id") * seqLen))
      .select(col("doc_id"), col("seq_id"),
        (col("seg_start") - col("seq_id") * seqLen).as("start_in_seq"),
        (least(col("start_tok") + col("n_tokens"), (col("seq_id") + 1) * seqLen)
          - col("seg_start")).as("n_in_seq"),
        (col("seg_start") - col("start_tok")).as("doc_tok_off"))
      .orderBy("doc_id", "seq_id")
  }

  /** Site-level template/boilerplate removal — the CROSS-PAGE signal a
    * single-page classifier cannot see (template detection à la
    * Gibson/Punera/Tomkins 2005; the production complement of the
    * Boilerpipe-style per-page rule cascade this engine's extractor runs,
    * which the reference approximates per-image via layout classes,
    * ppstructure/layout/README.md): a unit (text line here; extracted block
    * in the x23 engine surface) that recurs on at least num/den of a site's
    * pages is sitewide chrome — nav, footer, cookie banner — and is dropped
    * from EVERY page of that site; units below the threshold are content
    * and stay, however popular globally. The threshold is a rational num/den
    * compared in exact integer arithmetic (`nd·den ≥ n_docs·num`) so Spark
    * and the DuckDB oracle agree at boundaries bit-for-bit; `minPages`
    * guards small sites from spurious 100%-of-2-pages removals. NB the
    * boundary is INCLUSIVE: at num/den = 1/2 a site needs > den/num pages
    * (≥ 3) before a single-page unit falls below the threshold — set
    * minPages accordingly (a 2-page site at 1/2 would lose every unit).
    *
    * `units` must have columns (id, grp, idx, unit); returns one row per id:
    * (id, n_units, n_boiler, clean_text = '\n'-join of kept units in idx
    * order).
    *
    * Scale shape (10^12 pages): the frequency pass exchanges (grp, md5) —
    * 16-byte digests with map-side combine, never unit text; site sizes are
    * an O(sites) table reduced from the same digests; the boilerplate
    * verdict table is O(sites × template units) — tiny relative to the
    * corpus — so the join back onto units broadcasts under AQE and degrades
    * to one equi-join exchange only at extreme site cardinality (unit text
    * still moves at most once). The reassembly groupBy(id) is the second
    * and final text exchange.
    */
  def templateFilter(units: DataFrame, num: Int = 1, den: Int = 2,
                     minPages: Int = 2): DataFrame = {
    require(num >= 1 && den >= num && minPages >= 2, s"$num/$den/$minPages")
    // referenced three times below (frequency, site sizes, verdict join) —
    // without the checkpoint the upstream (in x23: full HTML extraction +
    // explode) re-runs per reference; the x13/d18/d25 discipline
    val u = units.select(col("id"), col("grp"), col("idx"), col("unit"),
      md5(col("unit")).as("h"))
      .localCheckpoint()
    val freq = u.groupBy(col("grp"), col("h"))
      .agg(count_distinct(col("id")).as("nd"))
    // n_docs per site from the unit table itself (every page has >= 1 unit):
    // distinct ids per grp, computed over (grp, id) pairs — digest-sized.
    val nDocs = u.select(col("grp"), col("id")).distinct()
      .groupBy(col("grp")).agg(count(lit(1)).as("n_docs"))
    val boiler = freq.join(nDocs, Seq("grp"))
      .filter(col("n_docs") >= minPages &&
        col("nd") * den >= col("n_docs") * num)
      .select(col("grp"), col("h"), lit(true).as("boiler"))
    u.join(boiler, Seq("grp", "h"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).cast("long").as("n_units"),
        sum(when(coalesce(col("boiler"), lit(false)), 1L).otherwise(0L))
          .cast("long").as("n_boiler"),
        array_join(
          transform(
            array_sort(collect_list(
              when(!coalesce(col("boiler"), lit(false)),
                struct(col("idx"), col("unit"))))),
            s => s("unit")),
          "\n").as("clean_text"))
  }

  /** Cumulative 8-hex-char thresholds for [[hashSplit]] — exposed so the
    * oracle SQL is generated from the SAME values (langMarkers discipline).
    * Lexicographic order on lowercase hex of equal length ≡ numeric order,
    * so `md5_prefix < threshold` buckets uniformly at 2^-32 resolution. */
  def hashSplitThresholds(splits: Seq[(String, Double)]): Seq[(String, String)] = {
    require(splits.nonEmpty && splits.forall(_._2 > 0) &&
      math.abs(splits.map(_._2).sum - 1.0) < 1e-9, splits.toString)
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    splits.map(_._1).zip(cum.map(c =>
      String.format(java.util.Locale.ROOT, "%08x",
        java.lang.Long.valueOf(math.min((c * 4294967296.0).toLong, 4294967295L)))))
  }

  /** Deterministic train/val/test split — the reproducible-split primitive
    * of a training corpus: assignment = md5(doc_id ":" salt) compared
    * against cumulative hex thresholds. Stable under recrawl, reshuffle and
    * engine choice (md5 is cross-engine-exact; oracle-checked as d39);
    * keying on the document ID (not content) keeps a document's split fixed
    * across content revisions — the leakage rule eval pipelines need. Pure
    * row-local projection, zero shuffle at any corpus size. */
  def hashSplit(docs: DataFrame, splits: Seq[(String, Double)],
                salt: String = "graft-split-v1"): DataFrame = {
    val ths = hashSplitThresholds(splits)
    val prefix = substring(
      md5(concat(col("doc_id").cast("string"), lit(":" + salt)).cast("binary")),
      1, 8)
    var c: Column = null
    ths.foreach { case (name, th) =>
      c = if (c == null) when(prefix < th, name) else c.when(prefix < th, name)
    }
    docs.select(col("doc_id"), prefix.as("bucket"),
      coalesce(c, lit(ths.last._1)).as("split"))
      .orderBy("doc_id")
  }

  /** Per-source repeated-LINE template removal over the documents table:
    * text splits on '\n'; a line present on ≥ num/den of the source's docs
    * is dropped from all of them. The oracle-checkable recast of block-level
    * site-template removal (the x23 surface runs the same verdict over the
    * extractor's real block spans, keyed by url host). */
  def templateLines(docs: DataFrame, num: Int = 1, den: Int = 2,
                    minPages: Int = 2): DataFrame =
    templateFilter(
      docs.select(col("doc_id").as("id"), col("source").as("grp"),
        posexplode(split(col("text"), "\n")).as(Seq("idx", "unit"))),
      num, den, minPages)
      .select(col("id").as("doc_id"), col("n_units").as("n_lines"),
        col("n_boiler"), col("clean_text"))
      .orderBy("doc_id")

  /** The C4 page cleanup (Raffel et al. 2020 §2.2 — public methodology),
    * the LINE-level counterpart of [[gopherGate]]'s doc-level rules:
    *  - keep only lines with ≥5 words that end in terminal punctuation;
    *  - drop any line containing "javascript" (the cookie/JS-warning tell);
    *  - drop the whole page if it contains "lorem ipsum" or a curly brace
    *    (placeholder text / code), or if fewer than 3 sentences survive
    *    (one kept line = one sentence here — every kept line ends in `.`).
    * The corpus tokens carry no punctuation or newlines, so the page's
    * LINES are synthesized deterministically from its own tokens
    * (`lineTokens`-token segments, the d28 segment idiom) with
    * integer-arithmetic plants shared verbatim with the oracle: terminal
    * `.` on lines where (doc_id+i)%3≠2, ` javascript` where
    * (7·doc_id+i)%11=5, ` lorem ipsum` on line 0 where doc_id%17=3, ` {`
    * on line 1 where doc_id%19=7 — every rule has real violators at any SF.
    * Emits per-rule verdicts plus the kept-lines rewrite (C4 publishes the
    * FILTERED page, not just a flag).
    *
    * Scale shape: zero shuffle — line synthesis, per-line verdicts, and the
    * rewrite are higher-order array ops inside the scan stage; clean_text
    * is bounded by the input text. */
  def c4Gate(docs: DataFrame, lineTokens: Int = 6): DataFrame = {
    val k = lineTokens
    val ws = tokens(col("text"))
    val id = col("doc_id")
    val nL = greatest(ceil(size(ws).cast("double") / k).cast("int"), lit(1))
    val lines = transform(sequence(lit(0), nL - 1), i => {
      val base = concat_ws(" ", slice(ws, i * k + 1, lit(k)))
      val js = when((id * 7 + i) % 11 === 5,
        concat(base, lit(" javascript"))).otherwise(base)
      val lorem = when(id % 17 === 3 && i === 0,
        concat(js, lit(" lorem ipsum"))).otherwise(js)
      val brace = when(id % 19 === 7 && i === 1,
        concat(lorem, lit(" {"))).otherwise(lorem)
      when((id + i) % 3 =!= 2, concat(brace, lit("."))).otherwise(brace)
    })
    val keepLine = (l: Column) =>
      size(split(l, " ")) >= 5 && l.endsWith(".") && !l.contains("javascript")
    val kept = filter(lines, keepLine)
    val full = array_join(lines, "\n")
    val hasLorem = full.contains("lorem ipsum")
    val hasBrace = full.contains("{")
    val nKept = size(kept).cast("long")
    docs.select(
      id,
      size(lines).cast("long").as("n_lines"),
      nKept.as("n_kept_lines"),
      hasLorem.as("has_lorem"),
      hasBrace.as("has_brace"),
      (nKept >= 3L).as("c_sentences"),
      (!hasLorem && !hasBrace && nKept >= 3L).as("keep"),
      array_join(kept, "\n").as("clean_text"))
      .orderBy("doc_id")
  }

  /** Gopher A1.2 repetition thresholds (Rae et al. 2021, table A1 — public
    * methodology): max fraction of characters in the single most frequent
    * n-gram (n = 2..4), max fraction of characters inside duplicated
    * n-grams (n = 5..10). Expressed as integer percentages so both engines
    * decide boundaries by exact cross-multiplication. */
  val gopherRepetitionPct: Map[Int, Int] =
    Map(2 -> 20, 3 -> 18, 4 -> 16, 5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12,
        9 -> 11, 10 -> 10)

  /** The FULL Gopher A1.2 repetition gate — the char-coverage rules that
    * [[repetitionSignals]] (d14: type-token ratio, top token/bigram
    * OCCURRENCE fractions) does not cover: per n in 2..10, the fraction of
    * the document's characters covered by the most frequent n-gram (n ≤ 4)
    * or by all duplicated n-grams (n ≥ 5), each against its published
    * threshold. One row per (doc_id, n) — the audit scorecard — plus the
    * composed per-doc verdict. Coverage here is the occurrence-count ×
    * gram-chars recast (duplicated occurrences counted in full; the paper's
    * overlap-deduped variant needs positional sweeps that no SQL oracle
    * reproduces — documented, deliberate). All verdicts are integer-exact
    * (chars × 100 vs total_chars × pct). Docs shorter than n contribute no
    * (doc_id, n) row: the rule is vacuous there in both engines.
    *
    * Scale shape: ZERO shuffle until the presentation sort — the
    * `graft_gopher_rep` kernel computes every width's (n_grams, top gram,
    * coverage chars) in one row-local hash-map pass per width, and the
    * threshold compares plus the composed verdict are row-local projections
    * over that array. The first implementation's combining (doc_id, n,
    * gram) exchange (~|ns| × n_tokens rows per doc) is gone — 8.5× at
    * sf0.1, bit-equal by oracle. */
  def gopherRepetition(docs: DataFrame, ns: Seq[Int] = 2 to 10): DataFrame = {
    require(ns.nonEmpty && ns.forall(gopherRepetitionPct.contains),
      s"ns must be within ${gopherRepetitionPct.keys.toSeq.sorted}")
    // repetition is a PER-DOCUMENT property: the graft_gopher_rep kernel
    // computes every width's stats in one row-local pass, so the whole gate
    // is scan-shaped — the first implementation's combining (doc_id, n,
    // gram) exchange (~9 × n_tokens rows per doc) is gone; the oracle and
    // the hand-computed spec pin bit-equality with the relational form
    def pctOf(n: Column): Column = ns.tail.foldLeft(
        when(n === ns.head, lit(gopherRepetitionPct(ns.head)))) {
      (acc, w) => acc.when(n === w, lit(gopherRepetitionPct(w)))
    }
    def cPass(e: Column, totalChars: Column): Column =
      when(e.getField("n") <= 4,
        e.getField("top_chars") * 100 <= totalChars * pctOf(e.getField("n")))
        .otherwise(
          e.getField("dup_chars") * 100 <= totalChars * pctOf(e.getField("n")))
    docs.select(col("doc_id"),
        length(col("text")).cast("long").as("total_chars"),
        graft.expressions.GraftExpressions
          .gopherRep(col("text"), ns).as("rep"))
      // keep verdict BEFORE the explode: row-local forall, no doc_id window
      .withColumn("keep_doc", forall(col("rep"),
        e => cPass(e, col("total_chars"))))
      // explode_OUTER + cheap post-filter, not plain explode: explode's
      // implicit (size(rep)>0 AND rep IS NOT NULL) guard gets pushed down
      // past the projection and re-derives the KERNEL on text inside the
      // scan filter — the hash-map pass would run 2-3x per row
      .select(col("doc_id"), col("total_chars"), col("keep_doc"),
        explode_outer(col("rep")).as("r"))
      .where(col("r").isNotNull)
      .select(col("doc_id"), col("r.n").as("n"),
        col("r.n_grams").as("n_grams"),
        col("r.top_count").as("top_count"),
        col("r.top_gram").as("top_gram"),
        col("r.top_chars").as("top_chars"),
        col("r.dup_chars").as("dup_chars"),
        col("total_chars"),
        cPass(col("r"), col("total_chars")).as("c_pass"),
        col("keep_doc"))
      .orderBy("doc_id", "n")
  }
}
