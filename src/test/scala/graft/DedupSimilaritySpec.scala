package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DedupFunctions, SimilarityFunctions, TextFunctions}

/** Behavior tests for the dedup/similarity operators whose production variants
  * have no SQL oracle (simhash64/xxhash64, SRP-bucketed ANN): planted
  * near-duplicates must be found; the ANN scale path must agree with the
  * brute-force baseline on most of the top-k.
  */
class DedupSimilaritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def docsWithPlants = {
    import spark.implicits._
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "n_chars")
    // plant: 9001 = exact copy of doc 0; 9002 = doc 0 with one word changed
    val d0 = base.filter(col("doc_id") === 0).head
    val t0 = d0.getString(1)
    val t0mut = {
      val ws = t0.split(" "); ws(ws.length / 2) = "zzzmutantzzz"; ws.mkString(" ")
    }
    val plants = Seq(
      (9001L, t0, d0.getString(2), t0.length.toLong),
      (9002L, t0mut, d0.getString(2), t0mut.length.toLong)
    ).toDF("doc_id", "text", "lang", "n_chars")
    base.union(plants)
  }

  test("simhash64: near-dup has small hamming distance, unrelated docs large") {
    val sig = DedupFunctions.simhash64(docsWithPlants)
    val m = sig.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(0L), m(9001L)) == 0, "identical docs must have identical simhash")
    assert(ham(m(0L), m(9002L)) <= 8, "one-word mutation must stay hamming-close")
    val far = (1L to 20L).map(i => ham(m(0L), m(i)))
    assert(far.count(_ > 12) >= 15, s"unrelated docs should be hamming-far, got $far")
  }

  test("simhashPairs finds the planted near-duplicates") {
    val pairs = DedupFunctions.simhashPairs(docsWithPlants, maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 9001L)))
    assert(pairs.contains((0L, 9002L)))
  }

  test("simhashPairs recall holds at the 32-bit band setting (the scale knob)") {
    // wider bands = fewer, bigger band keys: the 10^9+-doc configuration.
    // Exact dups always collide (hamming 0); the one-word mutant's few bit
    // flips must leave one 32-bit half intact on this corpus.
    val pairs = DedupFunctions.simhashPairs(docsWithPlants, maxHamming = 12,
      bandBits = 32).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 9001L)))
    assert(pairs.contains((0L, 9002L)))
    // and the candidate set only shrinks as bands widen (same verify filter)
    val pairs16 = DedupFunctions.simhashPairs(docsWithPlants, maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.subsetOf(pairs16))
  }

  test("simhash banding excludes trivial docs (degenerate-band guard)") {
    import spark.implicits._
    // 40 planted trivial docs: all share signature 0 (empty) or a tiny-token
    // signature — without the minTokens guard the band join would emit all
    // ~40²/2 pairs among them. With the guard: zero pairs touch them.
    val trivial = (9100L until 9140L).map { id =>
      val t = if (id % 2 == 0) "" else "x y"
      (id, t, "en", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "n_chars")
    val all = docsWithPlants.union(trivial)
    for (bandBits <- Seq(16, 32)) {
      val pairs = DedupFunctions.simhashPairs(all, maxHamming = 12, bandBits = bandBits)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!pairs.exists { case (a, b) => a >= 9100L || b >= 9100L },
        s"trivial docs leaked into band join at bandBits=$bandBits")
      assert(pairs.contains((0L, 9001L)), "guard must not drop real near-dups")
    }
    val pairs128 = DedupFunctions.simhash128Pairs(all, maxHamming = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs128.exists { case (a, b) => a >= 9100L || b >= 9100L })
    assert(pairs128.contains((0L, 9001L)))
  }

  test("simhash128: low half equals simhash64; halves are independent") {
    val d = docsWithPlants
    val s64 = DedupFunctions.simhash64(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s128 = DedupFunctions.simhash128(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    s128.foreach { case (id, (hi, lo)) =>
      assert(lo == s64(id), s"low half diverges from simhash64 at doc $id")
      assert(hi != lo, s"halves identical at doc $id — seeds not independent")
    }
  }

  test("simhash128Pairs finds planted exact and near duplicates (32-bit bands)") {
    val pairs = DedupFunctions.simhash128Pairs(docsWithPlants, maxHamming = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 9001L)), "exact twin must collide in every band")
    assert(pairs.contains((0L, 9002L)) || pairs.contains((9001L, 9002L)),
      "one-word mutant should be within 24/128 bits of its source")
  }

  test("minhash LSH finds exact and near duplicates as candidates") {
    val pairs = DedupFunctions.lshCandidatePairs(docsWithPlants, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 9001L)), "exact dup must collide on every band")
    assert(pairs.contains((0L, 9002L)), "near dup should collide on some band")
  }

  test("lshBandedPairs: banded candidates found; banding only ever shrinks the r=1 set") {
    val banded = DedupFunctions.lshBandedPairs(docsWithPlants, bands = 4, rows = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.contains((0L, 9001L)), "exact twin agrees on every band")
    assert(banded.contains((0L, 9002L)) || banded.contains((9001L, 9002L)),
      "near dup should survive at least one 2-row band")
    // a 2-row band hit requires BOTH row hashes equal, so each is a
    // single-hash band hit: banded pairs ⊆ the r=1 pairs at the same k=8
    val r1 = DedupFunctions.lshCandidatePairs(docsWithPlants, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(r1), s"banding widened the candidate set: ${banded.diff(r1)}")
  }

  test("jaccardPairs scores the planted near-dup above 0.9") {
    val pairs = DedupFunctions.jaccardPairs(docsWithPlants, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((0L, 9001L)).exists(_ == 1.0), s"exact dup jaccard: ${pairs.get((0L, 9001L))}")
    assert(pairs.get((0L, 9002L)).exists(_ >= 0.85), s"near-dup jaccard: ${pairs.get((0L, 9002L))}")
  }

  test("ANN bucketed recall vs brute force is reasonable for its bucket size") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val brute = SimilarityFunctions.knnBrute(emb, 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = SimilarityFunctions.annBucketed(emb, 10, 5, nPlanes = 2, dim = 64,
      nTables = 4).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = brute.count(ann.contains).toDouble / brute.size
    // this corpus is near-uniform on the sphere (top-5 neighbor cosine ~0.3),
    // so per-table collision ~0.37; 4-table OR-amplification → ~0.8 expected.
    assert(recall >= 0.5, s"ANN recall too low: $recall")
    // every ANN hit must score identically to the brute computation (same dot)
    val bruteScores = SimilarityFunctions.knnBrute(emb, 10, 500)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    SimilarityFunctions.annBucketed(emb, 10, 5, 2, 64, 4).collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(bruteScores(key) == r.getDouble(3), s"score mismatch at $key")
    }
  }

  test("IVF: centroids are bit-deterministic and clusters partition the corpus") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val c1 = SimilarityFunctions.ivfCentroids(emb, k = 16, iters = 3, dim = 64)
    val c2 = SimilarityFunctions.ivfCentroids(
      emb.repartition(7), k = 16, iters = 3, dim = 64)
    // DECIMAL sums are order-independent: a different partitioning must give
    // the IDENTICAL quantizer, bit for bit
    assert(c1 == c2, "centroids drift across partitioning")
    // engine-portability contract (the e06/e07/e08 oracle foundation):
    // every trained cell is exactly a 9-decimal value — round-tripping
    // through BigDecimal at scale 9 must be the identity. Init cells
    // (untouched lists) are raw embeddings and exempt; trained cells are
    // the ones that differ from the init vector.
    val init = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 16)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toIndexedSeq)
    val trained = c1.zip(init).flatMap { case (c, i0) =>
      c.zip(i0).collect { case (cell, i) if cell != i => cell }
    }
    assert(trained.nonEmpty, "no cell was ever updated — Lloyd did nothing")
    trained.foreach { cell =>
      val rt = BigDecimal(cell).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      assert(rt == cell, s"trained centroid cell $cell is not 9-decimal-exact")
    }
    // assignment partitions the corpus: every vector in exactly one list
    import org.apache.spark.sql.functions.{col, element_at}
    val lists = emb.select(col("vec_id"),
      element_at(graft.expressions.GraftExpressions.ivfNearest(
        col("embedding").cast("array<double>"), c1, 1), 1).as("list_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(lists.length == lists.map(_._1).distinct.length)
    assert(lists.forall { case (_, l) => l >= 0 && l < 16 })
    // a useful quantizer spreads the corpus over several lists
    assert(lists.map(_._2).distinct.length >= 4, "quantizer collapsed")
  }

  test("IVF ANN: recall vs brute at nProbe=4/16, exact scores, twin found") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val brute = SimilarityFunctions.knnBrute(emb, 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = SimilarityFunctions.ivfSearch(emb, 10, 5, k = 16, iters = 3,
      nProbe = 4, dim = 64).collect()
    val ivfSet = ivf.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = brute.count(ivfSet.contains).toDouble / brute.size
    // probing 4 of 16 lists on a near-uniform corpus: every true neighbor in
    // a probed list is found EXACTLY (no hash luck involved) — recall is the
    // probed-list mass; measured ~0.7-0.9 here, floor set conservatively
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    // scores of returned candidates are exact (same dot as brute)
    val bruteScores = SimilarityFunctions.knnBrute(emb, 10, 500)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(bruteScores(key) == r.getDouble(3), s"score mismatch at $key")
    }
    // an exact twin of a query lands in the query's OWN nearest list, which
    // is always probed first → rank-1 guaranteed, no probability involved
    val v0 = emb.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0).toArray
    val planted = Seq((9001L, 0L, v0.toSeq)).toDF("vec_id", "label", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
    val withTwin = SimilarityFunctions.ivfSearch(
      emb.select("vec_id", "embedding", "label").union(planted), 1, 1,
      k = 16, iters = 3, nProbe = 1, dim = 64).collect()
    assert(withTwin.exists(r => r.getLong(0) == 0L && r.getLong(2) == 9001L &&
      r.getDouble(3) == 1.0), withTwin.mkString(";"))
  }

  test("IVF-PQ: codebooks bit-deterministic; recall vs brute; exact twin found") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // training is DECIMAL-exact Lloyd end-to-end: a different partitioning
    // must yield the identical coarse matrix AND all 8 subspace codebooks
    val (c1, b1) = SimilarityFunctions.pqTrain(emb, k = 16, m = 8, ksub = 16,
      iters = 2, dim = 64)
    val (c2, b2) = SimilarityFunctions.pqTrain(emb.repartition(7), k = 16,
      m = 8, ksub = 16, iters = 2, dim = 64)
    assert(c1 == c2 && b1 == b2, "PQ training drifts across partitioning")
    // recall vs brute: ADC shortlist + exact re-rank over refine×kNN
    val brute = SimilarityFunctions.knnBrute(emb, 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = SimilarityFunctions.pqSearch(emb, 10, 5, k = 16, m = 8,
      ksub = 16, iters = 2, nProbe = 4, refine = 4, dim = 64).collect()
    val pqSet = pq.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = brute.count(pqSet.contains).toDouble / brute.size
    assert(recall >= 0.4, s"IVF-PQ recall too low: $recall")
    // returned scores are EXACT dots (the refine join re-ranks on raw
    // embeddings — same contract as ivfSearch)
    val bruteScores = SimilarityFunctions.knnBrute(emb, 10, 500)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    pq.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(bruteScores(key) == r.getDouble(3), s"score mismatch at $key")
    }
    // an exact twin encodes to the query's own list with the query's own
    // codes — its ADC score ties the maximum, so it survives the shortlist
    // and exact re-rank puts it at rank 1 with score 1.0
    val v0 = emb.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0).toArray
    val planted = Seq((9001L, 0L, v0.toSeq)).toDF("vec_id", "label", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
    val withTwin = SimilarityFunctions.pqSearch(
      emb.select("vec_id", "embedding", "label").union(planted), 1, 1,
      k = 16, m = 8, ksub = 16, iters = 2, nProbe = 1, refine = 4,
      dim = 64).collect()
    assert(withTwin.exists(r => r.getLong(0) == 0L && r.getLong(2) == 9001L &&
      r.getDouble(3) == 1.0), withTwin.mkString(";"))
  }

  test("bloomIncrementalDedup: output identical to exact incrementalDedup; bloom prunes") {
    import spark.implicits._
    val base = spark.read.parquet(s"$sf/documents.parquet")
    // standing = even ids; batch = odd ids + planted cross-batch dup (copy of
    // an even doc) + intra-batch twins
    val e0 = base.filter(col("doc_id") === 0).head.getString(1)
    val plants = Seq((9001L, e0), (9003L, "twin text payload"),
      (9005L, "twin text payload")).toDF("doc_id", "text")
    val existing = base.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
    val batch = base.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
      .union(plants)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val exact = key(DedupFunctions.incrementalDedup(existing, batch))
    val bloom = key(DedupFunctions.bloomIncrementalDedup(existing, batch))
    assert(bloom == exact, s"bloom path diverged: ${bloom.size} vs ${exact.size}")
    assert(!bloom.exists(_._1 == 9001L), "cross-batch dup must drop")
    assert(bloom.exists(_._1 == 9003L) && !bloom.exists(_._1 == 9005L),
      "intra-batch twins keep min id")
    // tiny filter (high FP) must STILL be exact — correctness never depends
    // on the FP rate, only the prune fraction does
    val tiny = key(DedupFunctions.bloomIncrementalDedup(existing, batch,
      bits = 64, nHashes = 2))
    assert(tiny == exact, "exactness must hold at any FP rate")
  }

  test("bm25: matches a driver-side formula replication exactly") {
    import spark.implicits._
    val docs = Seq((1L, "x y x z"), (2L, "x q q"), (3L, "q q q")).toDF("doc_id", "text")
    // query "x q": df(x)=2, df(q)=2, N=3, avgdl=10/3
    val n = 3.0; val avgdl = 10L.toDouble / 3
    // Spark's Log expression evaluates via StrictMath (1 ulp off Math.log)
    def idf(df: Long) = StrictMath.log((n - df + 0.5) / (df + 0.5) + 1.0)
    def tfn(tf: Long, len: Long) =
      (tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * len / avgdl))
    def score(terms: Seq[(String, Long, Long, Long)]) = // (t, tf, df, len) sorted by t
      BigDecimal(terms.foldLeft(0.0)((a, x) => a + idf(x._3) * tfn(x._2, x._4)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = Map(
      1L -> score(Seq(("x", 2L, 2L, 4L))),
      2L -> score(Seq(("q", 2L, 2L, 3L), ("x", 1L, 2L, 3L))),
      3L -> score(Seq(("q", 3L, 2L, 3L))))
    val got = TextFunctions.bm25(docs, "x q", k = 10)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(got == want, s"$got vs $want")
    // ranks: deterministic desc order with doc_id tiebreak
    val ranks = TextFunctions.bm25(docs, "x q", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ranks.length == 2 && ranks(0)._1 == 1L && ranks(1)._1 == 2L)
  }

  test("lengthQuantiles: discrete quantiles hand-computed, boundary-exact") {
    import spark.implicits._
    // source A lens: 1..10 (one doc each) -> p50=5, p90=9, p99=10
    val a = (1 to 10).map(i => (i.toLong, ("w " * i).trim, "A"))
    // source B lens: 2,2,2,100 -> n=4: p50 ceil(2)=2 -> len 2; p90 ceil(3.6)=4 -> 100
    val b = Seq((100L, "w w", "B"), (101L, "w w", "B"), (102L, "w w", "B"),
      (103L, ("w " * 100).trim, "B"))
    val docs = (a ++ b).toDF("doc_id", "text", "source")
    val got = TextFunctions.lengthQuantiles(docs).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(got("A") == ((10L, 5L, 9L, 10L)), got("A").toString)
    assert(got("B") == ((4L, 2L, 100L, 100L)), got("B").toString)
  }

  test("rollupScorecard: grouping levels complete and totals consistent") {
    import spark.implicits._
    val docs = Seq((1L, "a b", "en", "web"), (2L, "c", "en", "web"),
      (3L, "d e f", "de", "news")).toDF("doc_id", "text", "lang", "source")
    val r = TextFunctions.rollupScorecard(docs).collect()
      .map(x => (Option(x.getString(0)), Option(x.getString(1)), x.getLong(2),
        x.getLong(3), x.getLong(4))).toSet
    assert(r == Set(
      (Some("web"), Some("en"), 2L, 3L, 0L),
      (Some("news"), Some("de"), 1L, 3L, 0L),
      (Some("web"), None, 2L, 3L, 1L),
      (Some("news"), None, 1L, 3L, 1L),
      (None, None, 3L, 6L, 3L)), r.toString)
  }

  test("pageRank: matches a driver-side power-iteration simulation exactly") {
    import spark.implicits._
    val edges = Seq(("A", "B", 1L), ("A", "C", 1L), ("B", "C", 1L), ("C", "A", 2L))
      .toDF("src", "dst", "cnt")
    // simulate with the same op order: contribs folded by src ascending
    val n = 3
    val p = Map(("A","B") -> 1.0/2, ("A","C") -> 1.0/2, ("B","C") -> 1.0/1, ("C","A") -> 2.0/2)
    var r = Map("A" -> 1.0/n, "B" -> 1.0/n, "C" -> 1.0/n)
    for (_ <- 1 to 3) {
      def in(v: String) = p.keys.filter(_._2 == v).toSeq.sortBy(_._1)
        .foldLeft(0.0)((acc, k) => acc + r(k._1) * p(k))
      r = Seq("A", "B", "C").map(v => v -> ((1 - 0.85) / n + 0.85 * in(v))).toMap
    }
    val got = graft.functions.GraphFunctions.pageRank(edges, iters = 3)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(got == r, s"$got vs $r")
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "no dangling nodes -> mass conserved")
  }

  test("unigramPerplexity: hand-computed model, common text scores below OOV text") {
    import spark.implicits._
    // corpus counts: a:3, b:2, z:1; vocabK=2 -> model = {a:3, b:2} (z is
    // OOV, c=0), T=6, denom = 6+2+1 = 9
    val docs = Seq((1L, "a a b"), (2L, "a b z")).toDF("doc_id", "text")
    val denom = (6 + 2 + 1).toDouble
    def p(c: Long) = (c + 1).toDouble / denom
    def ppl(ps: Seq[Double]) =
      BigDecimal(math.exp(-ps.map(math.log).sum / ps.length))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = Map(
      1L -> ppl(Seq(p(3), p(3), p(2))),
      2L -> ppl(Seq(p(3), p(2), p(0))))
    val got = TextFunctions.unigramPerplexity(docs, vocabK = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == want, s"$got vs $want")
    assert(got(1L) < got(2L), "the OOV-bearing doc must score higher")
  }

  test("hashedLinearScore: margin equals the sum of md5-derived token weights") {
    import spark.implicits._
    def w(tok: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).take(4)
        .foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
      h % 2001 - 1000
    }
    val docs = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    val got = TextFunctions.hashedLinearScore(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val m1 = w("alpha") + w("beta")
    assert(got(1L) == ((2L, m1, m1 >= 0)), got(1L).toString)
    assert(got(2L) == ((1L, w("gamma"), w("gamma") >= 0)), got(2L).toString)
  }

  test("sq8Quantize: codes bounded, reconstruction within the half-step bound") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val scales = emb.select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("pos", "x")))
      .groupBy("pos").agg(max(abs(col("x"))).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val halfStep = (0 until 64).map(i => scales(i) / 254.0).max
    val r = SimilarityFunctions.sq8Quantize(emb, dim = 64).collect()
    assert(r.length == emb.count())
    for (row <- r) {
      val codes = row.getSeq[Long](1)
      assert(codes.length == 64 && codes.forall(c => c >= -127 && c <= 127),
        s"vec ${row.getLong(0)}: ${codes.mkString(",")}")
      assert(row.getDouble(2) <= halfStep + 1e-12,
        s"vec ${row.getLong(0)}: err ${row.getDouble(2)} > $halfStep")
    }
    // a max-magnitude component must hit the rail exactly
    assert(r.exists(_.getSeq[Long](1).exists(c => math.abs(c) == 127L)))
  }

  test("sq8QuantizeRows: exploded shape round-trips to the packed codes") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val packed = SimilarityFunctions.sq8Quantize(emb, dim = 64).collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getDouble(2)))).toMap
    val rows = SimilarityFunctions.sq8QuantizeRows(emb, dim = 64).collect()
    assert(rows.length == packed.size * 64)
    val byVec = rows.groupBy(_.getLong(0))
    for ((vid, (codes, err)) <- packed) {
      val vr = byVec(vid).sortBy(_.getLong(1))
      assert(vr.map(_.getLong(1)).toSeq == (1L to 64L), s"vec $vid pos set")
      assert(vr.map(_.getLong(2)).toSeq == codes, s"vec $vid codes")
      assert(vr.forall(_.getDouble(3) == err), s"vec $vid err")
    }
  }

  test("shardPack: offsets are the exact prefix sum at any bucket size") {
    import spark.implicits._
    // token counts 3,1,4,1,5 -> starts 0,3,4,8,9; B=4 -> shards 0,0,1,2,2
    val docs = Seq(
      (10L, "a b c"), (11L, "d"), (12L, "e f g h"), (13L, "i"), (14L, "j k l m n")
    ).toDF("doc_id", "text")
    val want = Seq((10L, 3L, 0L, 0L), (11L, 1L, 3L, 0L), (12L, 4L, 4L, 1L),
      (13L, 1L, 8L, 2L), (14L, 5L, 9L, 2L))
    for (bkt <- Seq(1L, 2L, 100L)) { // bucket granularity must not change results
      val got = TextFunctions.shardPack(docs, shardTokens = 4L, bucketDocs = bkt)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got.toSeq == want, s"bucketDocs=$bkt: ${got.mkString(";")}")
    }
  }

  test("seqPack: spans tile every doc and every sequence, at any bucket size") {
    import spark.implicits._
    // token counts 3,1,4,1,5 -> starts 0,3,4,8,9 (14 total); L=4 ->
    // seqs 0..3; doc 12 straddles 0|1, doc 14 straddles 2|3
    val docs = Seq(
      (10L, "a b c"), (11L, "d"), (12L, "e f g h"), (13L, "i"), (14L, "j k l m n")
    ).toDF("doc_id", "text")
    // (doc_id, seq_id, start_in_seq, n_in_seq, doc_tok_off)
    val want = Seq(
      (10L, 0L, 0L, 3L, 0L), (11L, 0L, 3L, 1L, 0L),
      (12L, 1L, 0L, 4L, 0L), (13L, 2L, 0L, 1L, 0L),
      (14L, 2L, 1L, 3L, 0L), (14L, 3L, 0L, 2L, 3L))
    for (bkt <- Seq(1L, 2L, 100L)) {
      val got = TextFunctions.seqPack(docs, seqLen = 4L, bucketDocs = bkt)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      assert(got.toSeq == want, s"bucketDocs=$bkt: ${got.mkString(";")}")
    }
    // tiling invariants: per doc the spans concatenate to the whole doc;
    // per sequence the spans fill [0, L) back-to-back (last seq may be short)
    val rows = TextFunctions.seqPack(docs, seqLen = 4L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    for ((d, rs) <- rows.groupBy(_._1)) {
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._5).toSeq ==
        sorted.map(_._4).scanLeft(0L)(_ + _).init.toSeq, s"doc $d offsets")
    }
    for ((s, rs) <- rows.groupBy(_._2)) {
      val sorted = rs.sortBy(_._3)
      assert(sorted.head._3 == 0L, s"seq $s must start at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._4 == b._3, s"seq $s gap")
        case _ =>
      }
      assert(sorted.last._3 + sorted.last._4 <= 4L, s"seq $s overflow")
    }
    // no single-partition window over the doc table: every windowspec is
    // bucket-partitioned (the d29 prefix-sum discipline)
    val plan = TextFunctions.seqPack(docs, seqLen = 4L, bucketDocs = 2L)
      .queryExecution.executedPlan.toString
    assert(!plan.linesIterator.exists(l =>
      l.contains("windowspecdefinition(doc_id") && !l.contains("bkt")), plan)
  }

  test("incrementalLshDedup: batch near-dups of STANDING docs drop; batch-internal dups keep") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val standing = Seq(
      1L -> base,
      2L -> "one two three four five six seven eight nine ten").toDF("doc_id", "text")
    val batch = Seq(
      // exact copy of standing doc 1 -> candidate + jaccard 1.0 -> drop
      10L -> base,
      // near-dup of standing doc 1 (one token changed) -> drop
      11L -> "alpha beta gamma delta epsilon zeta eta theta iota NEW",
      // unique -> keep
      12L -> "completely different words with no shingle overlap at all",
      // two batch-internal dups of each other, unseen by standing -> BOTH
      // keep (intra-batch dedup is d07/d20's job, not this tier's)
      13L -> "unique batch content repeated verbatim in a sibling row here",
      14L -> "unique batch content repeated verbatim in a sibling row here")
      .toDF("doc_id", "text").repartition(3)
    val out = DedupFunctions.incrementalLshDedup(standing, batch, 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(10L)._3 == false && out(10L)._2 >= 1L, out(10L).toString)
    assert(out(11L)._3 == false, out(11L).toString)
    assert(out(12L) == ((0L, 0L, true)), out(12L).toString)
    assert(out(13L)._3 && out(14L)._3, "intra-batch dups must both keep")
    assert(out.size == 5, "every batch doc gets an audit row")
  }

  test("revisitRecords: identical re-fetches become revisit records pointing at the original") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val caps = Seq(
      // url A: v1, v1 again (revisit), v2 (new response), v1 a third time
      // (revisit pointing at the FIRST v1, not the latest capture)
      (1L, "a/p", ts(1), "v1"), (2L, "a/p", ts(2), "v1"),
      (3L, "a/p", ts(3), "v2"), (4L, "a/p", ts(4), "v1"),
      // url B shares url-A's content v1 — digests dedup WITHIN a url only
      (5L, "b/p", ts(1), "v1"))
      .toDF("doc_id", "url", "warc_ts", "text").repartition(3)
    val out = DedupFunctions.revisitRecords(caps).collect()
      .map(r => r.getLong(0) -> ((r.getString(3), Option(r.getTimestamp(5)))))
      .toMap
    assert(out(1L) == (("response", None)))
    assert(out(2L) == (("revisit", Some(ts(1)))))
    assert(out(3L) == (("response", None)))
    assert(out(4L) == (("revisit", Some(ts(1)))), "refers to the ORIGINAL")
    assert(out(5L) == (("response", None)), "per-url digest scope")
    // same-instant duplicate captures: doc_id breaks the tie deterministically
    val tie = Seq((7L, "c/p", ts(1), "x"), (6L, "c/p", ts(1), "x"))
      .toDF("doc_id", "url", "warc_ts", "text")
    val t = DedupFunctions.revisitRecords(tie).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(t(6L) == "response" && t(7L) == "revisit")
  }

  test("lineDedup: planted cross-doc segment removed from both docs, unique text intact") {
    import spark.implicits._
    // two docs share an 8-token boilerplate prefix (two 4-token segments);
    // their tails are unique; a third doc is entirely unique
    val boiler = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"$boiler one two three four"),
      (2L, s"$boiler five six seven eight"),
      (3L, "nine ten eleven twelve thirteen fourteen fifteen sixteen")
    ).toDF("doc_id", "text")
    val r = DedupFunctions.lineDedup(docs, segTokens = 4, minDocs = 2)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(1L) == ((3L, 2L, "one two three four")), r(1L).toString)
    assert(r(2L) == ((3L, 2L, "five six seven eight")), r(2L).toString)
    assert(r(3L) == ((2L, 0L,
      "nine ten eleven twelve thirteen fourteen fifteen sixteen")), r(3L).toString)
    // everything-boilerplate doc -> empty clean_text, not a dropped row
    val allBoiler = Seq((1L, boiler), (2L, boiler)).toDF("doc_id", "text")
    val r2 = DedupFunctions.lineDedup(allBoiler, segTokens = 4, minDocs = 2)
      .collect().map(x => (x.getLong(0), x.getLong(2), x.getString(3)))
    assert(r2.toSet == Set((1L, 2L, ""), (2L, 2L, "")), r2.mkString(";"))
  }

  test("semanticDedup: planted twin dropped, keeper kept, coverage total") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.count()
    // an exact twin of vec 0 (cosine 1.0) assigns to vec 0's own cluster by
    // construction -> keep-first drops the larger id, keeps vec 0
    val v0 = emb.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0).toArray
    val planted = Seq((9001L, 0L, v0.toSeq)).toDF("vec_id", "label", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
    val r = SimilarityFunctions.semanticDedup(
      emb.select("vec_id", "embedding", "label").union(planted),
      minCos = 0.95, k = 16, iters = 3, dim = 64).collect()
    assert(r.length == n + 1, s"every vector gets a verdict: ${r.length} vs ${n + 1}")
    val byId = r.map(x => x.getLong(0) -> ((x.getLong(1), x.getBoolean(2)))).toMap
    assert(!byId(9001L)._2, "the planted twin must be dropped")
    assert(byId(0L)._2, "the smaller-id original must be the keeper")
    assert(byId(9001L)._1 == byId(0L)._1, "twin and original share a cluster")
    // the natural corpus has no 0.95-cosine pairs -> everything else kept
    assert(r.count(x => !x.getBoolean(2)) == 1, "only the twin drops")
  }

  test("ANN wider-planes setting keeps recall via more tables (scale knob)") {
    // at scale nPlanes grows with log(n) (smaller buckets) and nTables grows
    // to recover recall — verify the trade holds on this corpus: planes 2→4
    // with tables 4→16 keeps recall in the same band
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val brute = SimilarityFunctions.knnBrute(emb, 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val annWide = SimilarityFunctions.annBucketed(emb, 10, 5, nPlanes = 4, dim = 64,
      nTables = 16).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = brute.count(annWide.contains).toDouble / brute.size
    assert(recall >= 0.5, s"wide-planes ANN recall too low: $recall")
  }

  test("cosine near-dup pairs: SRP-blocked path finds planted duplicates") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label", "embedding")
    // plant 9001 = exact copy of vec 0 (cosine 1.0 — must collide in EVERY
    // SRP table), 9002 = vec 0 with a small perturbation (near dup)
    val v0 = emb.filter(col("vec_id") === 0).head.getSeq[Float](2).toArray
    val v0near = v0.clone(); v0near(0) = v0near(0) + 0.05f
    val planted = Seq((9001L, 0L, v0.toSeq), (9002L, 0L, v0near.toSeq))
      .toDF("vec_id", "label", "embedding")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<float>"))
    val all = emb.union(planted)
    val pairs = SimilarityFunctions.cosineDupPairs(all, 0.95, nPlanes = 4, dim = 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((0L, 9001L)).contains(1.0), s"exact dup: ${pairs.get((0L, 9001L))}")
    assert(pairs.get((0L, 9002L)).exists(_ >= 0.95), s"near dup: ${pairs.get((0L, 9002L))}")
    // every blocked-path pair must also pass the brute filter with equal score
    val brute = SimilarityFunctions.cosineDupPairsBrute(all, 0.95)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pairs.foreach { case (k, c) => assert(brute.get(k).contains(c), s"mismatch at $k") }
  }

  test("e05b driver surface: planted twins found by the SRP-blocked path") {
    val rows = SparkEntry.queries("e05b_cosine_dups_srp")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // exact twins collide in every table by construction — all 25 MUST appear
    (0L until 25L).foreach { k =>
      assert(rows.get((k, k + 1000000L)).contains(1.0), s"exact twin $k missing")
    }
    // bumped-renormalized twins are probabilistic per table; a plane flips
    // only when |proj| < 0.05·|w[0]| (measured ~1e-6 miss rate at 4 tables) —
    // assert a conservative floor, not all 25
    val nearFound = (0L until 25L).count(k => rows.contains((k, k + 2000000L)))
    assert(nearFound >= 20, s"near-twin recall too low: $nearFound/25")
    // every near twin that was found must clear the cosine bar
    (0L until 25L).flatMap(k => rows.get((k, k + 2000000L)))
      .foreach(c => assert(c >= 0.95 && c <= 1.0, s"near-twin cos $c"))
  }

  test("langId: no-space scripts (ja/ko/th) vote via shingle substring counts; hi via tokens") {
    import spark.implicits._
    val docs = Seq(
      (1L, "これは日本語の文章です。天気がいいですね。", "ja"),
      (2L, "이 문서는 한국어입니다. 우리는 데이터를 처리하다 합니다. 감사합니다.", "ko"),
      (3L, "the cat and the dog of the house", "en"),
      (4L, "no markers here whatsoever", "und"),
      (5L, "หนังสือเล่มนี้อยู่ในบ้านของฉันและเพื่อน", "th"), // ใน + ของ + และ substrings
      (6L, "यह किताब मेज़ पर है और वह भी है", "hi") // है ×2 + और tokens
    ).toDF("doc_id", "text", "lang")
    val out = TextFunctions.langId(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L)._1 == "ja" && out(1L)._2 >= 2) // の + が + です×2
    assert(out(2L)._1 == "ko" && out(2L)._2 >= 2) // 의? 는 + 하다 + 습니다
    assert(out(3L)._1 == "en")
    assert(out(4L)._1 == "und" && out(4L)._2 == 0L)
    assert(out(5L)._1 == "th" && out(5L)._2 >= 3)
    assert(out(6L)._1 == "hi" && out(6L)._2 == 3L)
  }

  test("exact dedup groups identical texts under min doc_id") {
    val g = DedupFunctions.exactGroups(docsWithPlants)
      .filter(col("group_size") > 1).collect()
    assert(g.length == 1)
    assert(g(0).getLong(1) == 0L && g(0).getLong(2) == 2L)
  }

  test("minhash signature is null for docs with fewer than 3 tokens") {
    import spark.implicits._
    val tiny = Seq((1L, "one two"), (2L, "one two three")).toDF("doc_id", "text")
    val sig = TextFunctions.minhashSignature(tiny, 2).collect()
    assert(sig(0).isNullAt(1) && sig(0).isNullAt(2))
    assert(!sig(1).isNullAt(1))
  }

  test("contamination counts shared distinct n-grams; clean docs report 0") {
    import spark.implicits._
    val bench = Seq((1L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "a quick brown fox appears"),      // shares "quick brown fox"
      (11L, "totally unrelated text here"),    // clean
      (12L, "the quick brown fox jumps high")) // shares all three bench 3-grams
      .toDF("doc_id", "text")
    val r = DedupFunctions.contamination(corpus, bench, 3).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(r == Seq((10L, 1L), (11L, 0L), (12L, 3L)))
  }

  test("tokenWindows: exact window arithmetic incl. short docs and truncated tails") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // 10 toks, W=4 S=3 → windows at 0,3,6 (exact fit)
      (2L, "a b c d e f g h i j k"), // 11 toks → 0,3,6,9 (tail of 2)
      (3L, "x y"))                   // 2 toks ≤ W → one short window
      .toDF("doc_id", "text")
    val r = TextFunctions.tokenWindows(docs, window = 4, stride = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4)))
    assert(r.toSeq == Seq(
      (1L, 0L, 0L, 4L, "a b c d"), (1L, 1L, 3L, 4L, "d e f g"),
      (1L, 2L, 6L, 4L, "g h i j"),
      (2L, 0L, 0L, 4L, "a b c d"), (2L, 1L, 3L, 4L, "d e f g"),
      (2L, 2L, 6L, 4L, "g h i j"), (2L, 3L, 9L, 2L, "j k"),
      (3L, 0L, 0L, 2L, "x y")))
  }

  test("mixtureSample: content-stable verdicts, rate-proportional keeps, unlisted langs kept") {
    import spark.implicits._
    val docs = (0L until 2000L).map(i =>
      (i, if (i % 2 == 0) "en" else "xx", "t")).toDF("doc_id", "lang", "text")
    val r = TextFunctions.mixtureSample(docs, Map("en" -> 0.25)).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getBoolean(2)))
    // unlisted language keeps everything
    assert(r.filter(_._2 == "xx").forall(_._3))
    // keep fraction ≈ rate (hash-uniform; 1000 trials, generous band)
    val en = r.filter(_._2 == "en")
    val frac = en.count(_._3).toDouble / en.length
    assert(frac > 0.17 && frac < 0.33, s"keep fraction $frac")
    // content-stable: a second run (different partitioning) agrees row-for-row
    val again = TextFunctions.mixtureSample(docs.repartition(7), Map("en" -> 0.25))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getBoolean(2)))
    assert(r.toSeq == again.toSeq)
    // rate boundaries: 1.0 keeps ALL (no 1-in-2^32 hash-boundary loss), 0.0 drops all
    val bounds = TextFunctions.mixtureSample(docs,
      Map("en" -> 1.0, "xx" -> 0.0)).collect()
      .map(x => (x.getString(1), x.getBoolean(2)))
    assert(bounds.filter(_._1 == "en").forall(_._2))
    assert(bounds.filter(_._1 == "xx").forall(!_._2))
    // stride > window is a contract violation, not silent phantom windows
    intercept[IllegalArgumentException] {
      TextFunctions.tokenWindows(docs, window = 4, stride = 10)
    }
  }

  test("repetitionSignals: hand-computed Gopher-rule fractions") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b"),         // 4 toks, 2 distinct; bigrams: "a a","a a","a b"
      (2L, "x"),               // 1 tok → no bigrams
      (3L, "spam spam spam"))  // fully repetitive
      .toDF("doc_id", "text")
    val r = TextFunctions.repetitionSignals(docs).collect()
    assert(r(0).getLong(1) == 4L && r(0).getLong(2) == 2L)
    assert(r(0).getDouble(3) == 0.5 && r(0).getDouble(4) == 0.75)
    assert(r(0).getLong(5) == 3L && r(0).getDouble(6) == 0.6667)
    assert(r(1).getLong(1) == 1L && r(1).getLong(5) == 0L && r(1).getDouble(6) == 0.0)
    assert(r(2).getDouble(3) == 0.3333 && r(2).getDouble(4) == 1.0 &&
      r(2).getDouble(6) == 1.0)
  }

  test("predReverse matches the reference's pred_reverse segment semantics") {
    import spark.implicits._
    val in = Seq(
      (1L, "abc مرحبا def"), (2L, "سعر 25.5% فقط"),
      (3L, "plain ltr text"), (4L, "،؟"))
      .toDF("doc_id", "text")
    val got = in.select(col("doc_id"), TextFunctions.predReverse(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // expected computed with the reference implementation
    // (ppocr/postprocess/rec_postprocess.py:53-67)
    assert(got(1L) == " defابحرمabc ")
    assert(got(2L) == "طقف 25.5% رعس")
    assert(got(3L) == "plain ltr text")
    assert(got(4L) == "؟،")
  }

  test("word spans partition the document text exactly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 50)
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val spans = TextFunctions.wordSpans(docs).collect()
    assert(spans.nonEmpty)
    val byDoc = spans.groupBy(_.getLong(0))
    for ((docId, ws) <- byDoc) {
      val text = texts(docId)
      val sorted = ws.sortBy(_.getLong(1))
      // substring at [start_off, end_off) must equal the word, spans must tile
      var expectNext = 0L
      for (w <- sorted) {
        val (word, s, e) = (w.getString(2), w.getLong(3), w.getLong(4))
        assert(s == expectNext, s"gap at doc $docId word ${w.getLong(1)}")
        assert(text.substring(s.toInt, e.toInt) == word)
        expectNext = e + 1 // the single separator space
      }
      assert(expectNext - 1 == text.length, s"doc $docId spans don't cover the text")
    }
  }

  test("dedupComponents: chain A~B~C collapses to ONE cluster though A!~C") {
    import spark.implicits._
    // 24 distinct tokens per doc; B replaces A's last 8, C replaces B's first
    // 8 — so jaccard(A,B) = jaccard(B,C) = 16/32 = 0.5 (pairs at the 0.5 bar)
    // but jaccard(A,C) = 8/40 = 0.2 (NOT a pair): only transitive closure
    // puts all three in one component
    def words(prefix: String, n: Int) = (0 until n).map(i => s"$prefix$i")
    val aw = words("alpha", 24)
    val bw = aw.take(16) ++ words("beta", 8)
    val cw = words("gamma", 8) ++ bw.drop(8)
    val docs = Seq(
      (10L, aw.mkString(" ")), (20L, bw.mkString(" ")), (30L, cw.mkString(" ")),
      (40L, words("delta", 24).mkString(" ")), // singleton
      (50L, words("epsi", 24).mkString(" "))   // singleton
    ).toDF("doc_id", "text")
    // precondition: the verified pair set is exactly the chain
    val pairs = DedupFunctions.jaccardPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs((10L, 20L)) && pairs((20L, 30L)), s"chain pairs missing: $pairs")
    assert(!pairs((10L, 30L)), "A~C must NOT be a direct pair (jaccard 0.2)")
    val comps = DedupFunctions.dedupComponents(docs, 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(comps(10L) == ((10L, true)), "min-id doc is the keeper")
    assert(comps(20L) == ((10L, false)))
    assert(comps(30L) == ((10L, false)), "C joins A's component only transitively")
    assert(comps(40L) == ((40L, true)) && comps(50L) == ((50L, true)),
      "singletons keep themselves")
  }

  test("starComponents: long chains + random graphs match union-find; fallback engages") {
    import spark.implicits._
    // local union-find oracle
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    def check(n: Int, edges: Seq[(Long, Long)], tag: String): Unit = {
      val ids = (0 until n).map(_.toLong).toDF("doc_id")
      val e = edges.toDF("src", "dst")
      val got = DedupFunctions.starComponents(e, ids)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      val want = unionFind(n, edges)
      for (i <- 0 until n) {
        assert(got(i.toLong)._1 == want(i.toLong), s"$tag: node $i")
        assert(got(i.toLong)._2 == (want(i.toLong) == i.toLong), s"$tag keeper $i")
      }
    }
    // the adversarial shape: a 200-node path (min-propagation needs ~200
    // rounds; the star rounds need O(log n))
    check(200, (0 until 199).map(i => (i.toLong, i.toLong + 1)), "path200")
    // path emitted high-to-low (worst orientation) + isolated tail nodes
    check(64, (0 until 50).map(i => (49L - i + 1, 49L - i)), "revpath+isolated")
    // random sparse graphs, seeded
    val rng = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 80
      val edges = Seq.fill(60)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      check(n, edges, s"random$trial")
    }
    // empty edge set: everyone is their own keeper
    check(5, Seq.empty, "empty")
    // the dedupComponents maxRounds guard escapes to stars and still gets
    // the transitive answer (same fixture as the chain test above)
    def words(prefix: String, n: Int) = (0 until n).map(i => s"$prefix$i")
    val aw = words("alpha", 24)
    val bw = aw.take(16) ++ words("beta", 8)
    val cw = words("gamma", 8) ++ bw.drop(8)
    val docs = Seq(
      (10L, aw.mkString(" ")), (20L, bw.mkString(" ")), (30L, cw.mkString(" ")),
      (40L, words("delta", 24).mkString(" "))
    ).toDF("doc_id", "text")
    val viaFallback = DedupFunctions.dedupComponents(docs, 0.5, maxRounds = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(viaFallback(10L) == ((10L, true)) && viaFallback(20L) == ((10L, false)) &&
      viaFallback(30L) == ((10L, false)) && viaFallback(40L) == ((40L, true)),
      viaFallback.toString)
  }

  test("crossDocSpans: shared span positions counted; short docs excluded") {
    import spark.implicits._
    def words(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val shared = words("sh", 10) // 10 tokens -> three 8-shingles when embedded
    val docs = Seq(
      (1L, shared + " " + words("a", 12)),  // shares the leading 10 tokens with doc 2
      (2L, shared + " " + words("b", 12)),
      (3L, words("c", 20)),                  // no shared spans
      (4L, words("d", 5))                    // < 8 tokens: excluded entirely
    ).toDF("doc_id", "text")
    val r = DedupFunctions.crossDocSpans(docs, 8).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    // docs 1/2: 22 tokens -> 15 shingle positions; positions 0..2 lie fully
    // inside the shared 10-token prefix -> 3 duplicated positions
    assert(r(1L) == ((15L, 3L, 0.2)), r.toString)
    assert(r(2L) == ((15L, 3L, 0.2)), r.toString)
    assert(r(3L) == ((13L, 0L, 0.0)), r.toString)
    assert(!r.contains(4L), "sub-n docs have no spans")
  }

  test("crossDocRemoval: non-owner spans cut, owner and gaps kept verbatim") {
    import spark.implicits._
    def words(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val shared = words("sh", 10)
    val mid = words("m", 8)
    val docs = Seq(
      (1L, shared + " " + words("a", 12)), // owner of the shared prefix: kept whole
      (2L, shared + " " + words("b", 12)), // prefix positions 0..2 cover [0,10)
      (3L, words("c", 20)),                // no duplicated spans
      (4L, words("d", 5)),                 // sub-n: passes through untouched
      (5L, words("e", 4) + " " + mid + " " + words("f", 4)), // owner of mid
      (6L, words("g", 6) + " " + mid + " " + words("h", 2))  // mid at [6,14) cut
    ).toDF("doc_id", "text")
    val r = DedupFunctions.crossDocRemoval(docs, 8).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(1L) == ((22L, 0L, shared + " " + words("a", 12))), r(1L).toString)
    // doc 2: union of [0,8) [1,9) [2,10) = [0,10) -> the whole prefix goes
    assert(r(2L) == ((22L, 10L, words("b", 12))), r(2L).toString)
    assert(r(3L) == ((20L, 0L, words("c", 20))), r(3L).toString)
    assert(r(4L) == ((5L, 0L, words("d", 5))), r(4L).toString)
    assert(r(5L) == ((16L, 0L, words("e", 4) + " " + mid + " " + words("f", 4))))
    // doc 6: middle span removed, leading and trailing gaps rejoin with one space
    assert(r(6L) == ((16L, 8L, words("g", 6) + " " + words("h", 2))), r(6L).toString)
  }

  test("latestSnapshot: newest capture wins per url; capture-time ties keep min doc_id") {
    import spark.implicits._
    val ts = (h: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 ${h}%02d:00:00")
    val snaps = Seq(
      (1L, "a.com/x", ts(5), "v1"),
      (2L, "a.com/x", ts(9), "v2"),  // newest for a.com/x
      (3L, "a.com/x", ts(7), "v3"),
      (7L, "b.com/y", ts(4), "w2"),  // tie on ts with 5: min doc_id = 5 wins
      (5L, "b.com/y", ts(4), "w1"),
      (9L, "c.com/z", ts(1), "solo")
    ).toDF("doc_id", "url", "warc_ts", "text")
    val r = DedupFunctions.latestSnapshot(snaps).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getTimestamp(3)))).toMap
    assert(r("a.com/x") == ((3L, 2L, ts(9))), r.toString)
    assert(r("b.com/y") == ((2L, 5L, ts(4))), "tie keeps the smaller doc_id")
    assert(r("c.com/z") == ((1L, 9L, ts(1))), r.toString)
  }

  test("bpeLearn: hand-simulated merge sequence on the Sennrich-style corpus") {
    import spark.implicits._
    // dict: low:3, lower:2, newest:1 — merges derivable by hand
    val docs = Seq(
      (1L, "low low low"),
      (2L, "lower lower"),
      (3L, "newest")
    ).toDF("doc_id", "text")
    val r = TextFunctions.bpeLearn(docs, 5).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2), x.getString(3), x.getLong(4)))
    assert(r.toSeq == Seq(
      (1L, "l", "o", "lo", 5L),       // (l,o) and (o,w) tie at 5 — left asc
      (2L, "lo", "w", "low", 5L),
      (3L, "e", "r", "er", 2L),       // (e,r) vs (low,e) tie at 2 — "e" < "low"
      (4L, "low", "er", "lower", 2L),
      (5L, "e", "s", "es", 1L)        // all-1 tie — (e,s) first lexicographically
    ), r.mkString(", "))
  }

  test("bpeEncode: learned merges tokenize the training corpus to known counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "low low low"),   // each word -> single subword "low"
      (2L, "lower lower"),   // -> single subword "lower"
      (3L, "newest")         // n e w es t -> 5 subwords (only e+s applies)
    ).toDF("doc_id", "text")
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"), ("low", "er"), ("e", "s"))
    val r = TextFunctions.bpeEncode(docs, merges).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r(1L) == ((3L, 3L)), r(1L).toString)
    assert(r(2L) == ((2L, 2L)), r(2L).toString)
    assert(r(3L) == ((1L, 5L)), r(3L).toString)
    // zero merges degenerates to character counts
    val r0 = TextFunctions.bpeEncode(docs, Seq.empty).collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r0(1L) == 9L && r0(2L) == 10L && r0(3L) == 6L, r0.toString)
  }

  test("bpeEncode: 32,000 merges keep the plan of one merge and encode exactly") {
    import spark.implicits._
    // a synthetic production-size table: each merge fuses two tokens of the
    // vocabulary so far, so later ranks build on earlier merge results
    val rng = new java.util.Random(46L)
    val vocab = scala.collection.mutable.ArrayBuffer(('a' to 'z').map(_.toString): _*)
    val merges = (0 until 32000).map { _ =>
      val l = vocab(rng.nextInt(vocab.length)); val r = vocab(rng.nextInt(vocab.length))
      if (l.length + r.length <= 8) vocab += l + r
      (l, r)
    }
    val short = vocab.filter(_.length <= 4).toIndexedSeq
    val texts = (0 until 40).map(_ =>
      (0 until 12).map(_ => (0 until 1 + rng.nextInt(3)).map(_ => short(rng.nextInt(short.length)))
        .mkString).mkString(" "))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // plan size: expression nodes of the analyzed plan, and its text
    def planSize(n: Int): (Int, Int) = {
      val plan = TextFunctions.bpeEncode(docs, merges.take(n)).queryExecution.analyzed
      (plan.collect { case op => op.expressions.map(_.collect { case e => e }.size).sum }.sum,
        plan.treeString.length)
    }
    val (nodes1, text1) = planSize(1)
    for (n <- Seq(64, 32000)) {
      val (nodes, text) = planSize(n)
      assert(nodes == nodes1, s"$n merges: $nodes plan expression nodes vs $nodes1 for one")
      assert(math.abs(text - text1) < 8, s"$n merges: plan text $text chars vs $text1 for one")
    }
    // the reference: every merge in rank order, each a greedy leftmost-first
    // pass (the first piece seeds; a fresh merge result is no left operand)
    def subwords(word: String): Long = {
      var p = word.map(_.toString).toVector
      for ((l, r) <- merges) {
        val out = scala.collection.mutable.ArrayBuffer(p.head)
        for (x <- p.tail) if (x == r && out.last == l) out(out.length - 1) = l + r else out += x
        p = out.toVector
      }
      p.length.toLong
    }
    val want = texts.zipWithIndex.map { case (t, i) => i.toLong -> t.split(" ").map(subwords).sum }.toMap
    val got = TextFunctions.bpeEncode(docs, merges).collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(got == want)
    assert(want.values.sum < texts.map(_.count(_ != ' ')).sum, "some merges must apply")
  }

  test("bpeLearn: exhausts gracefully when no pairs remain") {
    import spark.implicits._
    val docs = Seq((1L, "a b")).toDF("doc_id", "text") // single-char words: no pairs
    assert(TextFunctions.bpeLearn(docs, 3).collect().isEmpty)
  }

  test("gopherGate: each rule trips on its planted violator, clean doc keeps") {
    import spark.implicits._
    def fill(n: Int) = (0 until n).map(i => s"word$i").mkString(" ")
    val good = "the cat and dog in rain " + fill(54)        // 60 words, 2+ stopwords
    val docs = Seq(
      (1L, good),
      (2L, "the and " + fill(8)),                            // 10 words: c_words
      (3L, "the and " + (0 until 58).map(i => s"extraordinarily$i").mkString(" ")), // mean len > 10: c_mean_len
      (4L, "the and " + (0 until 58).map(i => s"w$i###").mkString(" ")), // 58 hashes×3 vs 60 words: c_symbol
      (5L, "the and " + (0 until 58).map(i => s"${i}00").mkString(" ")), // <80% alpha words: c_alpha
      (6L, fill(60))                                         // zero stopwords: c_stop
    ).toDF("doc_id", "text")
    val r = TextFunctions.gopherGate(docs).collect()
      .map(x => x.getLong(0) -> ((x.getBoolean(6), x.getBoolean(7), x.getBoolean(8),
        x.getBoolean(9), x.getBoolean(10), x.getBoolean(11)))).toMap
    assert(r(1L) == ((true, true, true, true, true, true)), r(1L).toString)
    assert(!r(2L)._1 && !r(2L)._6, r(2L).toString)
    assert(!r(3L)._2 && !r(3L)._6, r(3L).toString)
    assert(!r(4L)._3 && !r(4L)._6, r(4L).toString)
    assert(!r(5L)._4 && !r(5L)._6, r(5L).toString)
    assert(r(6L) == ((true, true, true, true, false, false)), r(6L).toString)
  }

  test("c4Gate: line rules and doc rules trip on their planted violators") {
    import spark.implicits._
    def toks(n: Int) = (0 until n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, toks(24)), // 4 full lines; line 1 loses punct ((1+1)%3=2) -> 3 kept
      (2L, toks(10)), // line 0 unpunctuated, line 1 only 4 words -> 0 kept
      (3L, toks(24)), // 3%17=3 -> lorem ipsum planted on line 0
      (7L, toks(24)), // 7%19=7 -> " {" planted on line 1
      (12L, toks(61)) // (12*7+9)%11=5 -> "javascript" planted on line 9
    ).toDF("doc_id", "text")
    val r = TextFunctions.c4Gate(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    // doc 1: clean; kept lines are i=0,2,3 (line 1 fails terminal punct)
    assert(r(1L).getLong(1) == 4L && r(1L).getLong(2) == 3L && r(1L).getBoolean(6))
    assert(r(1L).getString(7) ==
      "w0 w1 w2 w3 w4 w5.\nw12 w13 w14 w15 w16 w17.\nw18 w19 w20 w21 w22 w23.")
    // doc 2: no line survives (unpunctuated / short) -> c_sentences fails
    assert(r(2L).getLong(2) == 0L && !r(2L).getBoolean(5) && !r(2L).getBoolean(6))
    // doc 3: lorem line is otherwise keepable, but the DOC rule drops the page
    assert(r(3L).getBoolean(3) && r(3L).getLong(2) == 3L && !r(3L).getBoolean(6))
    assert(r(3L).getString(7).startsWith("w0 w1 w2 w3 w4 w5 lorem ipsum."))
    // doc 7: brace lands on a line that also fails punct; doc still dropped
    assert(r(7L).getBoolean(4) && !r(7L).getBoolean(6))
    assert(!r(7L).getString(7).contains("{"), "brace line must not be kept")
    // doc 12: javascript line dropped, rest keep; 11 lines, kept = 6
    assert(r(12L).getLong(1) == 11L && r(12L).getLong(2) == 6L && r(12L).getBoolean(6))
    assert(!r(12L).getString(7).contains("javascript"))
  }

  test("gopherRepetition: top-gram coverage, dup-gram coverage, tie-break, vacuous-n") {
    import spark.implicits._
    // --- top-2-gram rule in isolation ---
    val distinct20 = (0 until 20).map(i => f"t$i%02d").mkString(" ") // 59 chars
    val top2 = TextFunctions.gopherRepetition(
      Seq((1L, "a b a b a b"), (2L, distinct20)).toDF("doc_id", "text"),
      ns = Seq(2)).collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: "a b"×3 of 5 bigrams covers 9 of 11 chars -> 900 > 11*20: fail
    val r1 = top2(1L)
    assert(r1.getLong(2) == 5L && r1.getLong(3) == 3L &&
      r1.getString(4) == "a b" && r1.getLong(5) == 9L &&
      r1.getLong(6) == 15L && r1.getLong(7) == 11L &&
      !r1.getBoolean(8) && !r1.getBoolean(9), r1.toString)
    // doc 2: all bigrams unique; tie-break = lexicographically largest gram;
    // 5 chars of 59 -> 500 <= 59*20: pass
    val r2 = top2(2L)
    assert(r2.getLong(3) == 1L && r2.getString(4) == "t18 t19" &&
      r2.getLong(6) == 0L && r2.getBoolean(8) && r2.getBoolean(9), r2.toString)

    // --- dup-5-gram rule in isolation ---
    val rep5 = ("p1 p2 p3 p4 p5" +: (0 until 10).map(i => f"f$i%01d0") :+
      "p1 p2 p3 p4 p5").mkString(" ") // 20 tokens, 59 chars, X at j=0 and 15
    val dup5 = TextFunctions.gopherRepetition(
      Seq((3L, rep5), (4L, distinct20)).toDF("doc_id", "text"),
      ns = Seq(5)).collect().map(r => r.getLong(0) -> r).toMap
    // doc 3: the repeated 5-gram covers 2*14=28 chars -> 2800 > 59*15: fail
    val r3 = dup5(3L)
    assert(r3.getLong(2) == 16L && r3.getLong(3) == 2L &&
      r3.getString(4) == "p1 p2 p3 p4 p5" && r3.getLong(6) == 28L &&
      !r3.getBoolean(8) && !r3.getBoolean(9), r3.toString)
    assert(dup5(4L).getLong(6) == 0L && dup5(4L).getBoolean(9))

    // --- vacuous n (doc shorter than n) emits no row; composed verdict ---
    val full = TextFunctions.gopherRepetition(
      Seq((5L, "a b a b a b")).toDF("doc_id", "text")).collect()
    assert(full.length == 5, s"n=2..6 only for a 6-token doc: ${full.length}")
    assert(full.forall(!_.getBoolean(9)), "n=2 fail must poison keep_doc")
    assert(full.count(_.getBoolean(8)) == 2, "dup rules n in {5,6} pass individually")
  }

  test("encodingErrorSignal: replacement chars and control bands counted, keep = clean") {
    import spark.implicits._
    val docs = Seq(
      (1L, "clean ascii text"),
      (2L, "bad \ufffd\ufffd here"),            // two replacement chars
      (3L, "bell\u0007 and c1\u0092 and del\u007f"), // C0 + C1 + DEL = 3
      (4L, "tab\tand\nnewline\rkept")           // whitelisted controls: clean
    ).toDF("doc_id", "text")
    val r = TextFunctions.encodingErrorSignal(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getBoolean(4)))).toMap
    assert(r(1L) == ((16L, 0L, true)), r.toString)
    assert(r(2L) == ((11L, 2L, false)), r.toString)
    assert(r(3L) == ((22L, 3L, false)), r.toString)
    assert(r(4L) == ((20L, 0L, true)), "tab/LF/CR are not damage")
  }

  test("incrementalDedup: batch anti-joined on standing digests, then self-deduped") {
    import spark.implicits._
    val existing = Seq(
      (2L, "standing corpus page"),
      (4L, "another standing page")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "standing corpus page"),  // exact dup of standing content: dropped
      (3L, "fresh page alpha"),      // novel: kept
      (5L, "fresh page beta"),       // novel, intra-batch dup pair with 7
      (7L, "fresh page beta"),       //   -> one keeper (min doc_id = 5)
      (9L, "fresh page alpha")       // intra-batch dup of 3: dropped
    ).toDF("doc_id", "text")
    val kept = DedupFunctions.incrementalDedup(existing, batch).collect()
      .map(_.getLong(0)).toList
    assert(kept == List(3L, 5L), s"novel keepers only, min-id wins: $kept")
  }

  test("dictionaryHitRate: top-k dictionary, hand-computed OOV fractions") {
    import spark.implicits._
    // counts: a=2 c=2 d=2 b=1 -> top-2 by (count desc, token asc) = {a, c}
    val docs = Seq((1L, "a a b c"), (2L, "c d d")).toDF("doc_id", "text")
    val r = TextFunctions.dictionaryHitRate(docs, 2).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r(1L) == ((4L, 3L, 0.25)), r.toString)   // a,a,c in dict; b OOV
    assert(r(2L) == ((3L, 1L, 0.6667)), r.toString) // c in dict; d,d OOV
  }

  test("vocabTopK / bpePairCounts: hand-computed counts, deterministic tiebreak") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab a"), (2L, "abc")).toDF("doc_id", "text")
    val vocab = TextFunctions.vocabTopK(docs, 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toList
    assert(vocab == List(("ab", 2L), ("a", 1L), ("abc", 1L)),
      s"count desc then token asc: $vocab")
    val pairs = TextFunctions.bpePairCounts(docs, 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toList
    assert(pairs == List(("ab", 3L), ("bc", 1L)), s"ab from 2x'ab'+1x'abc': $pairs")
  }

  test("piiRedact: hand-authored PII is scrubbed; sequential contract holds") {
    import spark.implicits._
    val docs = Seq(
      (1L, "write me at a.b@x.co or 555-123-4567 from 1.2.3.4"),
      // an email whose local part LOOKS like a phone: the sequential contract
      // says the email redaction consumes it, so n_phones must be 0
      (2L, "billing 555-123-4567@pay.example.com only"),
      (3L, "no pii here at all")
    ).toDF("doc_id", "text")
    val r = TextFunctions.piiRedact(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) == ((1L, 1L, 1L)))
    assert(r(2L) == ((1L, 0L, 0L)), "phone digits inside an email must not double-count")
    assert(r(3L) == ((0L, 0L, 0L)))
    // the column function and the report agree on the redacted text
    val red = docs.select(col("doc_id"), TextFunctions.redactPii(col("text")).as("t"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(red(1L) == "write me at <EMAIL> or <PHONE> from <IP>")
    assert(red(2L) == "billing <EMAIL> only")
    assert(red(3L) == "no pii here at all")
  }
}
