package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Corpus
import graft.expressions.GraftExpressions
import graft.extract.{ExtractConfig, Extractor}
import graft.functions.SimilarityFunctions
import graft.pipeline.CorpusSource

/** The Catalyst-expression SQL surface must agree exactly with the kernel it
  * wraps, and the codegen'd token counter must stay inside WholeStageCodegen.
  */
class ExpressionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("graft_extract_text(html) == Extractor.extract(html).text") {
    GraftExpressions.register(spark)
    CorpusSource.pages(spark, 56).createOrReplaceTempView("pages_expr_test")
    val got = spark.sql(
      "SELECT url, graft_extract_text(html) AS text FROM pages_expr_test")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    Corpus.pages(42L, 56).foreach { g =>
      val want = Extractor.extract(g.row.url, g.row.html, ExtractConfig()).text
      assert(got(g.row.url) == want, s"expression/kernel divergence at ${g.row.url}")
    }
  }

  test("graft_token_count matches size(split()) semantics on single-spaced text") {
    GraftExpressions.register(spark)
    import spark.implicits._
    val df = Seq("one two three", "a", "", "  padded  out  ", "tab\tsep\nnl")
      .toDF("s")
    val got = df.select(GraftExpressions.token_count(col("s")).as("n"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L, 1L, 0L, 2L, 3L))
  }

  test("graft_simhash64 equals the explode+groupBy formulation bit-for-bit") {
    GraftExpressions.register(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // reference formulation (the r1 implementation): explode every token,
    // xxhash64 per token, 64 vote sums, recombine
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val voteCols = (0 until 64).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1)).as(s"v$b")
    }
    val votes = toks.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
    val sim = (0 until 64).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, c) => a.bitwiseOR(c))
    val want = votes.select(col("doc_id"), sim.as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = docs.select(col("doc_id"), GraftExpressions.simhash64(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == want.size && got == want)
  }

  test("graft_simhash64 runs inside WholeStageCodegen, zero shuffle") {
    GraftExpressions.register(spark)
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(GraftExpressions.simhash64(col("text")).as("s"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_simhash64"), s"no codegen span in:\n$plan")
    assert(!plan.contains("Exchange"), plan)
  }

  test("graft_lang_best and the seeded simhash half run inside WholeStageCodegen, zero shuffle") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(GraftExpressions.langBest(col("text")).as("lb"),
        GraftExpressions.simhash64Hi(col("text")).as("hi"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"no codegen span in:\n$plan")
    assert(plan.contains("graft_lang_best"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("graft_lang_best packing decodes to the langId projection exactly") {
    import graft.expressions.LangIdKernel
    import org.apache.spark.unsafe.types.UTF8String
    val cases = Seq(
      "the cat and the dog of the house" -> ("en", 5L),
      "これは日本語の文章です" -> ("ja", 3L), // は + の + です
      "यह किताब है और वह है" -> ("hi", 3L), // है ×2 + और (token path)
      "ในของและ" -> ("th", 3L), // ใน + ของ + และ (shingle path)
      "no markers here whatsoever" -> ("und", 0L))
    for ((text, (lang, votes)) <- cases) {
      val packed = LangIdKernel.compute(UTF8String.fromString(text))
      val idx = (packed & 15L).toInt
      val got = if (idx == LangIdKernel.undIndex) "und" else LangIdKernel.langsAsc(idx)
      assert(got == lang, s"$text → $got")
      assert((packed >>> 4) == votes, s"$text votes ${packed >>> 4}")
    }
  }

  test("graft_srp_buckets equals the literal-weight-array formulation bit-for-bit") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val (nTables, nPlanes, dim) = (4, 4, 64)
    // reference formulation (the r3 implementation): per-table bucket from
    // literal weight arrays via zip_with + aggregate — the independent oracle
    // for the kernel's splitmix64 plane table and left-to-right double sum
    def planeWeight(plane: Int, dimIdx: Int): Double = {
      var z = (plane.toLong * dim + dimIdx) + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      z.toDouble / Long.MaxValue.toDouble
    }
    val v = col("embedding").cast("array<double>")
    val bucketCols = (0 until nTables).map { t =>
      val bits = (0 until nPlanes).map { p =>
        val weights = array((0 until dim)
          .map(d => lit(planeWeight(t * nPlanes + p, d))): _*)
        val proj = aggregate(zip_with(v, weights, (x, wgt) => x * wgt),
          lit(0.0), (acc, x) => acc + x)
        when(proj > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
      (bits + lit(t.toLong << 32)).cast("long")
    }
    val want = emb.select(col("vec_id"), array(bucketCols: _*).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = emb.select(col("vec_id"),
        GraftExpressions.srpBuckets(v, nTables, nPlanes, dim).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got.size == want.size && got == want)
    // degenerate inputs: wrong length / null element → bits 0, table prefix only
    import spark.implicits._
    val weird = Seq(Seq(0.5, -0.5), Seq.empty[Double]).toDF("v")
      .select(GraftExpressions.srpBuckets(col("v"), 2, 4, 64).as("b"))
      .collect().map(_.getSeq[Long](0)).toSeq
    assert(weird.forall(_ == Seq(0L, 1L << 32)), weird.toString)
  }

  test("graft_srp_buckets runs inside WholeStageCodegen with a compact plan") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(GraftExpressions.srpBuckets(
        col("embedding").cast("array<double>"), 4, 4, 64).as("b"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"no codegen span in:\n$plan")
    assert(plan.contains("graft_srp_buckets"), plan)
    // the whole point: no literal weight arrays in the plan text
    assert(!plan.contains("zip_with") && !plan.contains("aggregate("), plan)
  }

  test("graft_ivf_nearest: brute-argmin oracle, ordering, degenerate inputs, codegen") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = SimilarityFunctions.ivfCentroids(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
      k = 8, iters = 2, dim = 64)
    val v = col("embedding").cast("array<double>")
    val got = emb.select(col("vec_id"),
        GraftExpressions.ivfNearest(v, cents, 3).as("lists"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // independent oracle: brute squared-L2 argsort in plain Scala
    val rows = emb.select(col("vec_id"), v.as("e")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    rows.foreach { case (id, vec) =>
      val want = cents.indices.map { c =>
        val ct = cents(c)
        (vec.indices.map(i => { val d = vec(i) - ct(i); d * d }).sum, c)
      }.sortBy(identity).take(3).map(_._2.toLong)
      assert(got(id) == want, s"vec $id: ${got(id)} != $want")
    }
    // degenerate: wrong length → the first nProbe list ids, deterministic
    val weird = Seq(Seq(0.5, -0.5), Seq.empty[Double]).toDF("v")
      .select(GraftExpressions.ivfNearest(col("v"), cents, 2).as("l"))
      .collect().map(_.getSeq[Long](0)).toSeq
    assert(weird.forall(_ == Seq(0L, 1L)), weird.toString)
    // codegen: the kernel stays inside a WholeStageCodegen span and the plan
    // carries the centroid matrix as a reference, not k×dim literals
    val plan = emb.select(GraftExpressions.ivfNearest(v, cents, 1).as("l"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"no codegen span in:\n$plan")
    assert(plan.contains("graft_ivf_nearest"), plan)
  }

  test("graft_pq_encode/graft_pq_score: scala oracle, degenerate inputs, codegen") {
    import spark.implicits._
    val embDf = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (coarse, cbs) = SimilarityFunctions.pqTrain(
      embDf, k = 8, m = 8, ksub = 16, iters = 2, dim = 64)
    val v = col("embedding").cast("array<double>")
    val got = embDf.filter(col("vec_id") < 50)
      .select(col("vec_id"), GraftExpressions.pqEncode(v, coarse, cbs).as("enc"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // independent oracle: coarse argmin then per-subspace residual argmin
    val rows = embDf.filter(col("vec_id") < 50)
      .select(col("vec_id"), v.as("e")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    rows.foreach { case (id, vec) =>
      val list = coarse.indices.minBy { c =>
        (vec.indices.map(i => { val d = vec(i) - coarse(c)(i); d * d }).sum, c)
      }
      val res = vec.indices.map(i => vec(i) - coarse(list)(i))
      val codes = (0 until 8).map { s =>
        cbs(s).indices.minBy { w =>
          ((0 until 8).map(i => { val d = res(s * 8 + i) - cbs(s)(w)(i); d * d }).sum, w)
        }.toLong
      }
      assert(got(id) == list.toLong +: codes, s"vec $id")
      // ADC score oracle: dot(q, c_list) + sum_m dot(q_m, codeword_m)
      val q = rows.head._2
      val want = q.indices.map(i => q(i) * coarse(list)(i)).sum +
        (0 until 8).flatMap(s => (0 until 8).map(i =>
          q(s * 8 + i) * cbs(s)(codes(s).toInt)(i))).sum
      val gotScore = Seq((q.toSeq, got(id))).toDF("q", "enc")
        .select(GraftExpressions.pqScore(col("q"), col("enc"), coarse, cbs))
        .head.getDouble(0)
      assert(math.abs(gotScore - want) < 1e-12, s"vec $id score")
    }
    // degenerate: wrong input length → list 0, all codes 0; score 0.0
    val weird = Seq(Seq(0.5, -0.5)).toDF("v")
      .select(GraftExpressions.pqEncode(col("v"), coarse, cbs).as("e"))
      .head.getSeq[Long](0)
    assert(weird == Seq.fill(9)(0L), weird.toString)
    // codegen: both kernels fuse into a WholeStageCodegen span with the
    // codebooks as plan reference objects, never literal arrays
    val plan = embDf.select(GraftExpressions.pqEncode(v, coarse, cbs).as("e"))
      .select(GraftExpressions.pqScore(lit(null).cast("array<double>"), col("e"),
        coarse, cbs))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"no codegen span in:\n$plan")
    assert(plan.contains("graft_pq_encode") && plan.contains("graft_pq_score"), plan)
  }

  test("each input signature is checked at analysis: a wrong type is an AnalysisException") {
    import spark.implicits._
    val df = Seq(("s", Array[Byte](1), Seq(1.0), Seq(1L))).toDF("s", "b", "d", "l")
    val coarse = Seq(Seq(0.0))
    val cbs = Seq(Seq(Seq(0.0)))
    // signature -> (a call it accepts, a call it rejects)
    val cases = Seq(
      "BINARY" -> (GraftExpressions.extract_text(col("b")),
        GraftExpressions.extract_text(col("s"))),
      "STRING" -> (GraftExpressions.token_count(col("s")),
        GraftExpressions.token_count(col("b"))),
      "ARRAY<DOUBLE>" -> (GraftExpressions.ivfNearest(col("d"), coarse, 1),
        GraftExpressions.ivfNearest(col("l"), coarse, 1)),
      "(STRING, STRING)" -> (GraftExpressions.urlResolve(col("s"), col("s")),
        GraftExpressions.urlResolve(col("s"), col("b"))),
      "(BINARY, STRING)" -> (GraftExpressions.resolvedLinks(col("b"), col("s")),
        GraftExpressions.resolvedLinks(col("s"), col("s"))),
      "(ARRAY<DOUBLE>, ARRAY<BIGINT>)" ->
        (GraftExpressions.pqScore(col("d"), col("l"), coarse, cbs),
          GraftExpressions.pqScore(col("d"), col("d"), coarse, cbs)))
    for ((sig, (accepted, rejected)) <- cases) withClue(s"$sig: ") {
      df.select(accepted)
      intercept[AnalysisException](df.select(rejected))
    }
  }

  test("url kernels (path/resolve) run inside WholeStageCodegen") {
    val df = spark.range(50)
      .select(concat(lit("https://h"), col("id") % 3,
        lit(".example.org/a/b?q="), col("id")).as("u"))
      .select(GraftExpressions.urlPath(col("u")).as("p"),
        GraftExpressions.urlResolve(col("u"), lit("../up")).as("r"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_url_path"), s"no codegen span in:\n$plan")
    assert(plan.contains("graft_url_resolve"), plan)
    val row = df.head
    assert(row.getString(0).startsWith("/a/b?q="))
    assert(row.getString(1).endsWith(".example.org/up"))
  }

  test("token counter runs inside WholeStageCodegen") {
    GraftExpressions.register(spark)
    val df = spark.range(100)
      .select(concat(lit("w"), col("id"), lit(" x y")).as("s"))
      .select(GraftExpressions.token_count(col("s")).as("n"))
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_token_count"), s"no codegen span in:\n$plan")
    assert(df.agg(sum("n")).head.getLong(0) == 300L)
  }

  test("fuzz: every string/binary kernel evaluates hostile input, never throws") {
    // kernels run row-local in the scan stage over crawl data — arbitrary
    // bytes and broken Unicode. One throw kills the task; this drives all of
    // them through the real (codegen'd where applicable) execution path.
    import spark.implicits._
    val rng = new FuzzUtil.Rng(0x6a09e667f3bcc908L)
    def nextInt(bound: Int): Int = rng.nextInt(bound)
    def rndString(): String = {
      val n = nextInt(64)
      val sb = new StringBuilder
      for (_ <- 0 until n) sb.append(nextInt(0xffff).toChar) // lone surrogates too
      sb.toString
    }
    def rndBytes(): Array[Byte] = {
      val b = new Array[Byte](nextInt(256))
      for (i <- b.indices) b(i) = nextInt(256).toByte // invalid UTF-8 included
      b
    }
    val rows = (0 until 600).map(_ => (rndString(), rndBytes(), rndString()))
    val df = rows.toDF("s", "b", "s2")
    val out = df.select(
      GraftExpressions.extract_text($"b"),
      GraftExpressions.extractLinks($"b"),
      GraftExpressions.anchorTexts($"b"),
      GraftExpressions.headMeta($"b"),
      GraftExpressions.resolvedLinks($"b", $"s"),
      GraftExpressions.token_count($"s"),
      GraftExpressions.simhash64($"s"),
      GraftExpressions.simhash64Hi($"s"),
      GraftExpressions.langBest($"s"),
      GraftExpressions.gopherRep($"s", Seq(1, 2, 3)),
      GraftExpressions.urlCanon($"s"),
      GraftExpressions.urlHost($"s"),
      GraftExpressions.urlPath($"s"),
      GraftExpressions.urlResolve($"s", $"s2"),
      GraftExpressions.nfc($"s")
    ).collect()
    assert(out.length == 600) // completing IS the property
  }
}
