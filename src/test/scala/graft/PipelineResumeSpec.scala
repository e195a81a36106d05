package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{CorpusSource, ExtractPipeline, PipelineConf}

/** North-rule checkpoint/resume: a run that dies mid-way (simulated by
  * processing only a subset of buckets) resumes to a final table byte-identical
  * to a clean one-shot run; lineage records exactly the per-bucket completions.
  */
class PipelineResumeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    Files.createTempDirectory("graft-pipe").toFile.getAbsolutePath

  private val N = 112 // 8 full fixture cycles

  test("resume after partial run matches a clean one-shot run") {
    val conf = PipelineConf(numBuckets = 8, megaBuckets = 2)
    val pages = CorpusSource.pages(spark, N)

    // clean one-shot
    val cleanDir = tmp()
    ExtractPipeline.run(spark, pages, cleanDir, conf)
    val clean = ExtractPipeline.output(spark, cleanDir)
      .select("url", "text").collect().map(r => (r.getString(0), r.getString(1))).sorted

    // crashed run: only half the buckets commit
    val crashDir = tmp()
    val firstHalf = (0 until 5).toSet
    val n1 = ExtractPipeline.run(spark, PartialRun.pages(pages, conf, firstHalf), crashDir, conf)
    assert(n1 > 0 && n1 <= firstHalf.size)
    val doneAfterCrash = ExtractPipeline.completedBuckets(spark, crashDir)
    assert(doneAfterCrash.subsetOf(firstHalf))

    // resume: must process only the rest
    val n2 = ExtractPipeline.run(spark, pages, crashDir, conf, resume = true)
    val resumed = ExtractPipeline.output(spark, crashDir)
      .select("url", "text").collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(resumed.toSeq == clean.toSeq, "resumed table differs from clean run")

    // lineage: every bucket ok exactly once, attempts recorded
    val lin = ExtractPipeline.lineage(spark, crashDir)
      .select("bucket", "status", "attempt").collect()
    assert(lin.forall(_.getString(1) == "ok"))
    assert(lin.map(_.getInt(0)).distinct.length == lin.length,
      "a bucket committed twice")
    val resumedBuckets = lin.filter(_.getInt(2) == 1).map(_.getInt(0)).toSet
    assert(resumedBuckets.intersect(doneAfterCrash).isEmpty,
      "resume reprocessed an already-committed bucket")
  }

  test("re-running resume on a complete table is a no-op") {
    val conf = PipelineConf(numBuckets = 4, megaBuckets = 1)
    val dir = tmp()
    val pages = CorpusSource.pages(spark, 28)
    ExtractPipeline.run(spark, pages, dir, conf)
    val again = ExtractPipeline.run(spark, pages, dir, conf, resume = true)
    assert(again == 0, s"no-op resume processed $again buckets")
  }

  test("a resume records attempt 1 for the buckets it commits, without being told") {
    val conf = PipelineConf(numBuckets = 4, megaBuckets = 1)
    val pages = CorpusSource.pages(spark, 28)
    val dir = tmp()
    ExtractPipeline.run(spark, PartialRun.pages(pages, conf, Set(0, 1)), dir, conf)
    val first = ExtractPipeline.completedBuckets(spark, dir)
    assert(first.nonEmpty && first.subsetOf(Set(0, 1)))
    assert(ExtractPipeline.run(spark, pages, dir, conf, resume = true) > 0)
    val attempts = ExtractPipeline.lineage(spark, dir).select("bucket", "attempt")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(attempts.size > first.size, "resume added no bucket")
    attempts.foreach { case (b, a) =>
      assert(a == (if (first.contains(b)) 0 else 1), s"bucket $b attempt $a")
    }
  }

  test("a run leaves the session's partitionOverwriteMode as it found it") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    def setting: Option[String] = spark.sessionState.conf.getAllConfs.get(key)
    val conf = PipelineConf(numBuckets = 4, megaBuckets = 1)
    val pages = CorpusSource.pages(spark, 28)
    val before = setting
    val dir = tmp()
    try {
      ExtractPipeline.run(spark, PartialRun.pages(pages, conf, Set(0)), dir, conf)
      assert(setting == before)
      spark.conf.set(key, "static")
      ExtractPipeline.run(spark, pages, dir, conf, resume = true)
      assert(setting.contains("static"))
      // the run's own overwrite stayed dynamic: the resume kept bucket 0
      assert(ExtractPipeline.output(spark, dir).count() == 28)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("output is invariant to input partitioning (1 vs 32 partitions)") {
    val conf = PipelineConf(numBuckets = 8, megaBuckets = 2)
    val a = tmp(); val b = tmp()
    ExtractPipeline.run(spark, CorpusSource.pages(spark, N, partitions = 1), a, conf)
    ExtractPipeline.run(spark, CorpusSource.pages(spark, N, partitions = 32), b, conf)
    val ra = ExtractPipeline.output(spark, a).select("url", "text")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    val rb = ExtractPipeline.output(spark, b).select("url", "text")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(ra.toSeq == rb.toSeq, "extraction output depends on partitioning")
  }

  test("mega documents route to dedicated buckets") {
    val conf = PipelineConf(numBuckets = 8, megaBytes = 1000, megaBuckets = 2)
    val small = ExtractPipeline.bucketOf("https://a/x", 500, conf)
    val mega = ExtractPipeline.bucketOf("https://a/x", 5000, conf)
    assert(small < 8)
    assert(mega >= 8 && mega < 10)
  }

  test("unparseable PDFs surface in lineage, never as silent empties") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val rows = Seq(
      graft.model.PageRow("https://x/ok", ts,
        "<html><body><p>perfectly fine paragraph text</p></body></html>".getBytes("UTF-8"), null, "en"),
      graft.model.PageRow("https://x/badpdf", ts,
        "%PDF-1.7\nthis is junk that cannot parse\n%%EOF\n".getBytes("UTF-8"), null, "en"),
      graft.model.PageRow("https://x/empty", ts, Array.emptyByteArray, null, "en"))
    val out = tmp()
    ExtractPipeline.run(spark, rows.toDS(), out, PipelineConf(numBuckets = 4, megaBuckets = 1))
    val lin = ExtractPipeline.lineage(spark, out)
      .agg(sum("unparsedDocs"), sum("emptyDocs"), sum("docs")).head
    assert(lin.getLong(0) == 1, s"unparsedDocs: $lin")
    assert(lin.getLong(1) == 2, s"emptyDocs (bad pdf + empty payload): $lin")
    assert(lin.getLong(2) == 3)
    val statuses = ExtractPipeline.output(spark, out)
      .select("url", "docStatus").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(statuses("https://x/badpdf") == "pdf_unparsed")
    assert(statuses("https://x/ok") == "ok")
  }
}
