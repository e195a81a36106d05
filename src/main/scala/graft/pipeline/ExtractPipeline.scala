package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.extract.{ExtractConfig, Extractor, ExtractorState}
import graft.model.{PageRow, Span}

/** One extracted-output row as persisted. Per-doc stage nanos ride along, so
  * every lineage column can be recomputed from *committed* data: the lineage
  * a run appends equals a groupBy(bucket) over the rows it wrote (LineageSpec).
  */
final case class ExtractedRow(
    bucket: Int,
    url: String,
    text: String,
    nSpans: Int,
    spans: Seq[Span],
    charset: String,
    truncated: Boolean,
    docStatus: String, // "ok" | "pdf_partial" | "pdf_unparsed" (per-doc parse outcome)
    htmlBytes: Long,
    tokenizeNanos: Long,
    domNanos: Long,
    classifyNanos: Long,
    assembleNanos: Long,
    pdfNanos: Long
)

/** Pipeline config (bucket counts sized for the sandbox; at cluster scale
  * `numBuckets` would be O(10^5) for a 10^12-row table — the mechanism is
  * identical because buckets, not Spark partitions or tasks, are the
  * checkpoint unit: a write task may hold several normal buckets, but every
  * bucket is written by exactly one task, see `taskOf`).
  */
final case class PipelineConf(
    numBuckets: Int = 64,
    /** payloads >= this many bytes are "mega documents": routed to dedicated
      * buckets so one outlier cannot straggle a bucket of normal pages — the
      * graft of the reference's recursive slice path for extreme-aspect inputs
      * (tools/infer/predict_det.py:307-408) expressed as partition routing. */
    megaBytes: Int = 1 << 20,
    megaBuckets: Int = 8,
    extract: ExtractConfig = ExtractConfig()
)

/** Checkpoint/resume extraction pipeline (north rule):
  *
  *  - every page gets a deterministic bucket = f(url, |html|): murmur3(url) mod
  *    numBuckets for normal pages, a dedicated mega-bucket range for outliers
  *    (size-balanced salting: the explicit skew handling of SURVEY.md §4.4);
  *  - extraction runs as one narrow mapPartitions after a single
  *    `repartitionById` on the bucket's write task (the only shuffle in the
  *    job): each mega bucket has a task of its own, scheduled first, and the
  *    normal buckets share as many tasks as the input's bytes need
  *    (`taskCount`, `taskOf`) — tasks are sized by cost, not by key count;
  *  - output is written parquet partitioned BY bucket with dynamic partition
  *    overwrite → per-bucket idempotent commits (Iceberg-style overwrite-by-
  *    partition without needing the Iceberg runtime in this sandbox);
  *  - lineage rows (status, doc/byte counts, per-stage nanos ≡ the reference's
  *    time_dict, tools/infer/predict_system.py:77) are folded inside the write
  *    pass: each write task counts the rows it writes per bucket, and the
  *    driver merges the partials of the committed attempts once the write job
  *    returns, then appends them to a lineage table — a bucket is "ok" iff its
  *    data is committed, and the output is never read back;
  *  - resume = re-run with `resume = true`: buckets already "ok" in lineage are
  *    filtered out of the input before the shuffle, everything else reruns;
  *    dynamic overwrite makes reruns of half-written buckets safe.
  */
object ExtractPipeline {

  def bucketOf(url: String, htmlLen: Int, conf: PipelineConf): Int = {
    val h = scala.util.hashing.MurmurHash3.stringHash(if (url == null) "" else url)
    if (htmlLen >= conf.megaBytes)
      conf.numBuckets + Math.floorMod(h, conf.megaBuckets)
    else Math.floorMod(h, conf.numBuckets)
  }

  /** Write tasks of a run over `pages`: one per mega bucket, plus P shared by
    * the normal buckets, P = max(defaultParallelism, ⌈plan size estimate ÷
    * spark.sql.files.maxPartitionBytes⌉) clamped to [1, numBuckets]. A large
    * input, or one of unknown size (Spark's default estimate is huge), gets
    * P = numBuckets: one bucket per task. */
  def taskCount(spark: SparkSession, pages: Dataset[_], conf: PipelineConf): Int = {
    val estimate = pages.queryExecution.optimizedPlan.stats.sizeInBytes
    val maxBytes = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
    val bySize = (estimate + maxBytes - 1) / maxBytes
    conf.megaBuckets +
      bySize.max(spark.sparkContext.defaultParallelism).min(conf.numBuckets).max(1).toInt
  }

  /** The write task of `bucket` among `nTasks` (`taskCount`): mega bucket
    * numBuckets + m goes to task m, normal bucket b to task
    * megaBuckets + b mod (nTasks - megaBuckets). */
  def taskOf(bucket: Int, conf: PipelineConf, nTasks: Int): Int =
    if (bucket >= conf.numBuckets) bucket - conf.numBuckets
    else conf.megaBuckets + bucket % (nTasks - conf.megaBuckets)

  def lineageDir(outDir: String): String = s"$outDir/_lineage"
  def dataDir(outDir: String): String = s"$outDir/data"

  /** What earlier runs left in the lineage table: the buckets marked ok and
    * the attempt number of the next run (one past the largest recorded, 0
    * when there is no lineage yet). Existence is probed through Hadoop's
    * FileSystem so --resume works on HDFS/S3 paths too, not just local disk
    * (a java.io.File probe is always false off local disk and would silently
    * reprocess every bucket). */
  private def priorRuns(spark: SparkSession, outDir: String): (Set[Int], Int) = {
    val path = new org.apache.hadoop.fs.Path(lineageDir(outDir))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return (Set.empty, 0)
    val r = spark.read.parquet(lineageDir(outDir))
      .agg(collect_set(when(col("status") === "ok", col("bucket"))), max(col("attempt")))
      .head()
    (r.getSeq[Int](0).toSet, if (r.isNullAt(1)) 0 else r.getInt(1) + 1)
  }

  /** Buckets marked ok in the lineage table (empty if no lineage yet). */
  def completedBuckets(spark: SparkSession, outDir: String): Set[Int] =
    priorRuns(spark, outDir)._1

  /** Run (or resume) the pipeline. Returns the number of buckets processed in
    * THIS run, whose lineage rows record attempt = 1 + the largest attempt
    * already in the lineage table (0 on the first run).
    */
  def run(spark: SparkSession, pages: Dataset[PageRow], outDir: String,
          conf: PipelineConf = PipelineConf(), resume: Boolean = false): Long = {
    import spark.implicits._

    val (ok, attempt) = priorRuns(spark, outDir)
    val done: Set[Int] = if (resume) ok else Set.empty

    val nTasks = taskCount(spark, pages, conf)
    val bucketed = pages.map { p =>
      val len = if (p.html == null) 0 else p.html.length
      val bucket = bucketOf(p.url, len, conf)
      (bucket, taskOf(bucket, conf, nTasks), p)
    }.toDF("bucket", "task", "page")

    val remaining =
      if (done.isEmpty) bucketed
      else bucketed.filter(!col("bucket").isin(done.toSeq: _*))

    // lineage partials of THIS run, one (partition id, bucket -> counts) set
    // per write task; stale buckets left in the output dir by earlier runs
    // never appear. Spark merges a result task's update once, and only from
    // the attempt that succeeded (failed or killed attempts' updates drop).
    val partials = spark.sparkContext
      .collectionAccumulator[(Int, Map[Int, Array[Long]])]("lineagePartials")
    val extracted = remaining
      .repartitionById(nTasks, col("task"))
      .drop("task")
      .as[(Int, PageRow)]
      .mapPartitions { it =>
        val state = new ExtractorState()
        val byBucket = scala.collection.mutable.HashMap.empty[Int, Array[Long]]
        val rows = it.map { case (bucket, p) =>
          val t0 = state.tokenizeNanos; val d0 = state.domNanos
          val c0 = state.classifyNanos; val a0 = state.assembleNanos; val p0 = state.pdfNanos
          val doc = Extractor.extract(p.url, p.html, conf.extract, state)
          val row = ExtractedRow(bucket, doc.url, doc.text, doc.nSpans, doc.spans,
            doc.charset, doc.truncated, doc.status,
            if (p.html == null) 0L else p.html.length.toLong,
            state.tokenizeNanos - t0, state.domNanos - d0,
            state.classifyNanos - c0, state.assembleNanos - a0, state.pdfNanos - p0)
          fold(byBucket.getOrElseUpdate(bucket, new Array[Long](countCols.length)), row)
          row
        }
        // `++` evaluates its argument once the writer has drained `rows`
        rows ++ {
          if (byBucket.nonEmpty) partials.add((TaskContext.getPartitionId(), byBucket.toMap))
          Iterator.empty
        }
      }

    // dynamic overwrite as a write option, ahead of the session conf: only
    // the buckets this run writes are replaced, and the session is untouched.
    // LocalFs.writeOptions: local-disk files get their permissions without
    // a chmod process each (three per bucket: directory, file, .crc)
    extracted.write
      .partitionBy("bucket")
      .mode(SaveMode.Overwrite)
      .options(LocalFs.writeOptions)
      .option("partitionOverwriteMode", "dynamic")
      .parquet(dataDir(outDir))

    // The write job has committed. Keep one partial set per partition id (a
    // re-run attempt replaces its earlier set, never adds to it) and merge
    // the sets by bucket.
    import scala.jdk.CollectionConverters._
    val counts = partials.value.asScala.toMap.values.flatten
      .groupMapReduce(_._1)(_._2)((a, b) => Array.tabulate(a.length)(i => a(i) + b(i)))
    if (counts.isEmpty) return 0L
    val rows = counts.toSeq.sortBy(_._1).map { case (bucket, c) =>
      Row.fromSeq(Seq(bucket, "ok", attempt) ++ c)
    }
    spark.createDataFrame(rows.asJava, lineageSchema).coalesce(1)
      .write.mode(SaveMode.Append).options(LocalFs.writeOptions).parquet(lineageDir(outDir))
    counts.size.toLong
  }

  /** Lineage count columns, in table order, after bucket, status and attempt. */
  private val countCols = Seq("docs", "bytes", "emptyDocs", "truncatedDocs",
    "unparsedDocs", "tokenizeNanos", "domNanos", "classifyNanos", "assembleNanos", "pdfNanos")

  private val lineageSchema = StructType(
    Seq(StructField("bucket", IntegerType), StructField("status", StringType),
      StructField("attempt", IntegerType)) ++
    countCols.map(StructField(_, LongType)))

  /** Adds one written row to its bucket's counts (`countCols` order). */
  private def fold(c: Array[Long], r: ExtractedRow): Unit = {
    c(0) += 1
    c(1) += r.htmlBytes
    if (r.text != null && r.text.isEmpty) c(2) += 1
    if (r.truncated) c(3) += 1
    if (r.docStatus != null && r.docStatus != "ok") c(4) += 1
    c(5) += r.tokenizeNanos
    c(6) += r.domNanos
    c(7) += r.classifyNanos
    c(8) += r.assembleNanos
    c(9) += r.pdfNanos
  }

  /** The final extracted table (all committed buckets). */
  def output(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(dataDir(outDir))

  /** The lineage/metrics table. */
  def lineage(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(lineageDir(outDir))
}
