package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.TaskKilled
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.PageRow
import graft.pipeline.{CorpusSource, ExtractPipeline, PipelineConf}

/** The lineage table a run appends is folded inside the write pass; these
  * specs pin it to the committed data: every lineage row equals a
  * groupBy(bucket) over the rows `ExtractPipeline.output` holds for that
  * bucket, on all thirteen columns, the stage nanos included.
  */
class LineageSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    Files.createTempDirectory("graft-lineage").toFile.getAbsolutePath

  private val columns = Seq("bucket", "status", "attempt", "docs", "bytes",
    "emptyDocs", "truncatedDocs", "unparsedDocs", "tokenizeNanos", "domNanos",
    "classifyNanos", "assembleNanos", "pdfNanos")

  /** The per-bucket aggregate of the committed rows, in lineage column order. */
  private def fromData(out: String, attempt: Column): DataFrame =
    ExtractPipeline.output(spark, out).groupBy(col("bucket")).agg(
      count(lit(1)).as("docs"),
      sum(col("htmlBytes")).as("bytes"),
      sum(when(length(col("text")) === 0, 1L).otherwise(0L)).as("emptyDocs"),
      sum(when(col("truncated"), 1L).otherwise(0L)).as("truncatedDocs"),
      sum(when(col("docStatus") =!= "ok", 1L).otherwise(0L)).as("unparsedDocs"),
      sum(col("tokenizeNanos")).as("tokenizeNanos"),
      sum(col("domNanos")).as("domNanos"),
      sum(col("classifyNanos")).as("classifyNanos"),
      sum(col("assembleNanos")).as("assembleNanos"),
      sum(col("pdfNanos")).as("pdfNanos")
    ).select(col("bucket") +: lit("ok").as("status") +: attempt.as("attempt") +:
      columns.drop(3).map(col): _*)

  private def sorted(df: DataFrame): Seq[Row] =
    df.select(columns.map(col): _*).collect().toSeq.sortBy(_.getInt(0))

  private def assertLineageMatchesData(out: String, attempt: Column): Unit = {
    val lineage = sorted(ExtractPipeline.lineage(spark, out))
    assert(lineage.nonEmpty)
    assert(lineage.map(_.getInt(0)).distinct.size == lineage.size, "a bucket recorded twice")
    assert(lineage == sorted(fromData(out, attempt)))
  }

  test("lineage equals a groupBy over the committed data: clean, partial and resumed runs") {
    val conf = PipelineConf(numBuckets = 8, megaBuckets = 2)
    val pages = CorpusSource.pages(spark, 112)

    val clean = tmp()
    ExtractPipeline.run(spark, pages, clean, conf)
    assertLineageMatchesData(clean, lit(0))

    val crashed = tmp()
    ExtractPipeline.run(spark, PartialRun.pages(pages, conf, (0 until 5).toSet), crashed, conf)
    assertLineageMatchesData(crashed, lit(0))
    val first = ExtractPipeline.completedBuckets(spark, crashed)
    assert(first.nonEmpty && first.subsetOf((0 until 5).toSet))

    ExtractPipeline.run(spark, pages, crashed, conf, resume = true)
    assertLineageMatchesData(crashed,
      when(col("bucket").isin(first.toSeq: _*), lit(0)).otherwise(lit(1)))
    assert(ExtractPipeline.completedBuckets(spark, crashed).size >
      first.size, "resume added no bucket")
  }

  test("lineage keeps its schema: column names, order and types") {
    val out = tmp()
    ExtractPipeline.run(spark, CorpusSource.pages(spark, 28), out,
      PipelineConf(numBuckets = 4, megaBuckets = 1))
    val expected = Seq("bucket" -> IntegerType, "status" -> StringType,
      "attempt" -> IntegerType) ++ columns.drop(3).map(_ -> LongType)
    val schema = ExtractPipeline.lineage(spark, out).schema
    assert(schema.map(f => f.name -> f.dataType) == expected, schema.treeString)
  }

  test("a killed write-task attempt reruns, and lineage counts each committed row once") {
    val conf = PipelineConf(numBuckets = 8, megaBuckets = 1)
    // three mega documents share the single mega bucket, so one write task
    // spends long enough extracting them for the kill to land mid-task
    val paragraphs = (0 until 18000)
      .map(i => s"<p>Paragraph $i carries plain sentence text for the retry test.</p>")
      .mkString
    val ts = new java.sql.Timestamp(0L)
    val mega = (0 until 3).map { k =>
      PageRow(s"https://mega.example/$k", ts,
        s"<html><body>$paragraphs</body></html>".getBytes("UTF-8"), null, "en")
    }
    assert(mega.forall(_.html.length >= conf.megaBytes))
    val megaBucket = conf.numBuckets
    import spark.implicits._
    val pages = CorpusSource.pages(spark, 56, partitions = 2).union(mega.toDS())
    // the pipeline's own layout: the write stage's task count and the task
    // that owns the mega bucket
    val nTasks = ExtractPipeline.taskCount(spark, pages, conf)
    val megaTask = ExtractPipeline.taskOf(megaBucket, conf, nTasks)

    val killed = new AtomicInteger()
    val sent = new AtomicBoolean(false)
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      // the write stage reads the shuffle, so it has a parent; the map stage
      // over the input may have as many tasks but has none
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.parentIds.nonEmpty)
          stageTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (stageTasks.get(e.stageId) == nTasks && e.taskInfo.index == megaTask &&
            e.taskInfo.attemptNumber == 0 && sent.compareAndSet(false, true))
          spark.sparkContext.killTaskAttempt(e.taskInfo.taskId, interruptThread = false,
            "LineageSpec: kill the first attempt of a write task")
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = e.reason match {
        case _: TaskKilled => killed.incrementAndGet()
        case _ =>
      }
    }
    val out = tmp()
    spark.sparkContext.addSparkListener(listener)
    try {
      ExtractPipeline.run(spark, pages, out, conf)
      val deadline = System.currentTimeMillis() + 30000
      while (killed.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)

    assert(sent.get(), "the write task was never started")
    assert(killed.get() >= 1, "no write-task attempt ended killed, so nothing was retried")
    assertLineageMatchesData(out, lit(0))
    val megaDocs = ExtractPipeline.lineage(spark, out)
      .filter(col("bucket") === megaBucket).select("docs").as[Long].collect()
    assert(megaDocs.toSeq == Seq(3L))
    assert(ExtractPipeline.output(spark, out).count() == 59)
  }
}
