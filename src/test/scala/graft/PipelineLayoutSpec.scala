package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.PageRow
import graft.pipeline.{CorpusSource, ExtractPipeline, PipelineConf}

/** The write-task layout of `ExtractPipeline`: each mega bucket gets a task of
  * its own, the normal buckets share the rest, and the bucket stays the output
  * partition, the lineage key and the resume unit whatever the task count.
  */
class PipelineLayoutSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    Files.createTempDirectory("graft-layout").toFile.getAbsolutePath

  /** Mega documents are >= 64 KiB here, so planting them stays cheap. */
  private val conf = PipelineConf(numBuckets = 8, megaBytes = 1 << 16, megaBuckets = 2)

  /** 112 corpus pages plus three mega documents: two in mega bucket 8, one in
    * mega bucket 9. */
  private def pages(): Dataset[PageRow] = {
    import spark.implicits._
    val body = (0 until 1200)
      .map(i => s"<p>Paragraph $i carries plain sentence text for the layout test.</p>")
      .mkString
    val html = s"<html><body>$body</body></html>".getBytes("UTF-8")
    assert(html.length >= conf.megaBytes)
    def urls(bucket: Int, n: Int): Seq[String] =
      Iterator.from(0).map(v => s"https://mega.example/$v")
        .filter(ExtractPipeline.bucketOf(_, html.length, conf) == bucket).take(n).toSeq
    val ts = new java.sql.Timestamp(0L)
    val mega = (urls(conf.numBuckets, 2) ++ urls(conf.numBuckets + 1, 1))
      .map(PageRow(_, ts, html, null, "en"))
    CorpusSource.pages(spark, 112).union(mega.toDS())
  }

  /** Runs the pipeline and returns the task count of each stage that read
    * the bucket shuffle (a stage with a parent). */
  private def runRecording(ds: Dataset[PageRow], out: String): Seq[Int] = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.parentIds.nonEmpty) stages.add(e.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      ExtractPipeline.run(spark, ds, out, conf)
      val deadline = System.currentTimeMillis() + 10000
      while (stages.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq
  }

  /** bucket -> the write task of its one data file (the part number Spark
    * puts in the file name is the task's partition id). */
  private def writerOf(out: String): Map[Int, Int] =
    new File(ExtractPipeline.dataDir(out)).listFiles()
      .filter(_.getName.startsWith("bucket=")).map { dir =>
        val files = dir.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
        assert(files.length == 1, s"${dir.getName} holds ${files.mkString(", ")}")
        dir.getName.stripPrefix("bucket=").toInt -> files.head.split('-')(1).toInt
      }.toMap

  /** Every output column but the stage timings, as sorted strings. */
  private def rows(out: String): Seq[String] =
    ExtractPipeline.output(spark, out)
      .drop("tokenizeNanos", "domNanos", "classifyNanos", "assembleNanos", "pdfNanos")
      .collect().map(_.toString).toSeq.sorted

  private def lineageCounts(out: String): Seq[String] =
    ExtractPipeline.lineage(spark, out)
      .select("bucket", "status", "docs", "bytes", "emptyDocs", "truncatedDocs", "unparsedDocs")
      .collect().map(_.toString).toSeq.sorted

  test("mega buckets get tasks of their own; normal buckets share the rest") {
    for (nTasks <- Seq(3, 4, 6, 10)) {
      val tasks = (0 until conf.numBuckets + conf.megaBuckets)
        .map(b => b -> ExtractPipeline.taskOf(b, conf, nTasks))
      assert(tasks.map(_._2).forall(t => t >= 0 && t < nTasks))
      val megaTasks = tasks.filter(_._1 >= conf.numBuckets).map(_._2)
      assert(megaTasks == (0 until conf.megaBuckets), s"nTasks=$nTasks")
      assert(tasks.filter(_._1 < conf.numBuckets).forall(_._2 >= conf.megaBuckets))
    }
  }

  test("packed and one-bucket-per-task runs write the same buckets, rows and lineage") {
    val ds = pages()
    val nTasks = ExtractPipeline.taskCount(spark, ds, conf)
    val parallelism = spark.sparkContext.defaultParallelism
    assert(nTasks == conf.megaBuckets + math.max(1, math.min(conf.numBuckets, parallelism)))

    val packed = tmp()
    assert(runRecording(ds, packed) == Seq(nTasks))
    val writers = writerOf(packed)
    assert(writers.keySet == (0 until conf.numBuckets + conf.megaBuckets).toSet)
    writers.foreach { case (b, t) => assert(t == ExtractPipeline.taskOf(b, conf, nTasks), s"bucket $b") }
    writers.groupBy(_._2).values.map(_.keySet).foreach { shared =>
      assert(shared.size == 1 || shared.forall(_ < conf.numBuckets),
        s"a mega bucket shares its task: ${shared.toSeq.sorted}")
    }

    // a plan size estimate far above maxPartitionBytes: one bucket per task
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    val single = tmp()
    spark.conf.set(key, "1")
    try {
      val oneEach = conf.numBuckets + conf.megaBuckets
      assert(ExtractPipeline.taskCount(spark, ds, conf) == oneEach)
      assert(runRecording(ds, single) == Seq(oneEach))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    assert(writerOf(single).keySet == writers.keySet)
    assert(rows(packed) == rows(single))
    assert(lineageCounts(packed) == lineageCounts(single))
  }

  test("a partial run and its resume equal a clean run") {
    val ds = pages()
    val clean = tmp()
    ExtractPipeline.run(spark, ds, clean, conf)

    val crashed = tmp()
    val first = Set(0, 3, 5, conf.numBuckets)
    ExtractPipeline.run(spark, PartialRun.pages(ds, conf, first), crashed, conf)
    assert(ExtractPipeline.completedBuckets(spark, crashed) == first)
    ExtractPipeline.run(spark, ds, crashed, conf, resume = true)

    assert(writerOf(crashed).keySet == writerOf(clean).keySet)
    assert(rows(crashed) == rows(clean))
    assert(lineageCounts(crashed) == lineageCounts(clean))
  }
}
