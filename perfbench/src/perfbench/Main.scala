package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.model.PageRow
import graft.pipeline.{Extract, ExtractPipeline}

/** Command-line options of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, nproc: Int, tiny: Boolean, out: String)

/** Benchmark entry point: one workload, one closed-loop client (one job at a
  * time), at most local[nproc]. Prints nothing on stdout; writes its result
  * as one JSON object to `--out` for the runner to check and print. */
object Main {

  /** End-to-end metrics, reported with tracing off: (name, unit). */
  val endToEnd: Seq[(String, String)] = Seq(
    "job_s" -> "s", "ok_frac" -> "ratio",
    "peak_rss_mb" -> "MB", "setup_s" -> "s")

  /** The index query list: queries that hold localCheckpoint'ed index
    * artifacts, one per operator family. Left out:
    *  - d20: its label propagation runs one round per step of the generated
    *    near-dup graph's diameter (one traced execution ran 248 jobs), so
    *    its time swung 6-14 s between seeds;
    *  - d36 and e07: the same operators as d26 (bit-identical output) and
    *    e06 (the same IVF quantizer), 8 s a run between them. */
  val indexQueries: Seq[String] = Seq(
    "d08_jaccard_pairs", "d10_simhash_pairs", "d26_incremental_dedup",
    "d32_pagerank", "d55_incremental_lsh", "e04_ann_bucketed",
    "e06_ivf_ann", "e08_semantic_dedup")
  def queryId(name: String): String = name.takeWhile(_ != '_')

  /** Per-layer metrics, reported by the traced run: (name, unit). Every
    * workload reports every name; a layer the workload does not run reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "htmltok.busy_s" -> "s", "htmltok.mb_per_s" -> "MB/s", "htmltok.tokens" -> "count",
    "dom.busy_s" -> "s", "dom.nodes" -> "count", "dom.blocks" -> "count",
    "extract.classify_assemble_s" -> "s", "extract.transcode_s" -> "s",
    "extract.spans" -> "count", "extract.truncated_docs" -> "count",
    "extract.lineage_kernel_s" -> "s",
    "pdf.parse_s" -> "s", "pdf.order_s" -> "s", "pdf.pages" -> "count",
    "pdf.mb_per_s" -> "MB/s", "pdf.partial_docs" -> "count", "pdf.unparsed_docs" -> "count") ++
    Inputs.classes.flatMap(c => Seq(s"class.$c.docs" -> "count", s"class.$c.mb" -> "MB",
      s"class.$c.busy_s" -> "s")) ++ Seq(
    "pipeline.map_s" -> "s", "pipeline.shuffle_write_mb" -> "MB",
    "pipeline.shuffle_read_mb" -> "MB", "pipeline.spill_mb" -> "MB",
    "pipeline.reduce_s" -> "s", "pipeline.commit_s" -> "s", "pipeline.lineage_s" -> "s",
    "pipeline.write_amp" -> "ratio", "pipeline.task_skew" -> "ratio",
    "pipeline.task_max_s" -> "s", "pipeline.gc_s" -> "s", "pipeline.tasks_failed" -> "count",
    "scan.task_skew" -> "ratio", "scan.gc_s" -> "s", "scan.scaling_eff" -> "ratio") ++
    indexQueries.map(queryId).flatMap(q => Seq(s"q.$q.s" -> "s", s"q.$q.shuffle_mb" -> "MB",
      s"q.$q.spill_mb" -> "MB", s"q.$q.task_skew" -> "ratio", s"q.$q.task_frac" -> "ratio")) ++ Seq(
    "functions.checkpoint_mb" -> "MB", "functions.task_frac" -> "ratio",
    "corpus.gen_s" -> "s", "corpus.write_s" -> "s",
    "host.probe_before_mops" -> "Mop/s", "host.probe_after_mops" -> "Mop/s",
    "host.steal_frac" -> "ratio")

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val extra = argv.grouped(2).exists(a => a.length != 2 || !a(0).startsWith("--"))
    require(!extra, s"arguments must be --key value pairs: ${argv.mkString(" ")}")
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("work"), req("nproc").toInt, m.get("tiny").contains("1"), req("out"))
  }

  def session(o: Opts, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // one scan split per corpus file at every level, so local[1] and
      // local[nproc] run the same tasks
      .config("spark.sql.files.minPartitionNum", (4 * o.nproc).toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/hadoop-tmp")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val w: Workload = o.workload match {
      case "extract_scan"   => new ScanWorkload(o)
      case "mega_skew"      => new MegaWorkload(o)
      case "index_queries"  => new QueryWorkload(o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val probeBefore = Host.probeMops()
    val ticks0 = Host.cpuTicks()

    val t0 = System.nanoTime()
    val spark = session(o, o.nproc)
    val startS = (System.nanoTime() - t0) / 1e9
    // set-up runs several times; its median is the set-up time
    val setups = (0 until (if (o.trace) 1 else 3)).map(_ => w.setup(spark))
    val setupS = startS + Stats.median(setups.map(g => g._1 + g._2))

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (!o.trace) {
      // the first jobs of a JVM run several times slower than steady ones
      // (JIT warm-up): they run untimed, and carry the per-row golden check
      w.warm(spark)
      val jobs = w.loop(spark, o.seconds)
      System.err.println(s"perfbench jobs: ${jobs.map(x => f"$x%.3f").mkString(" ")}")
      System.err.println(s"perfbench setups: ${setups.map(g => f"${g._1}%.3f+${g._2}%.3f").mkString(" ")} " +
        f"session=$startS%.3f")
      metrics ++= Seq(
        "job_s" -> Stats.median(jobs),
        "ok_frac" -> w.okFrac,
        "peak_rss_mb" -> Host.peakRssMb(),
        "setup_s" -> setupS)
    } else {
      metrics ++= perLayer.map(_._1 -> 0.0)
      metrics("corpus.gen_s") = setups.head._1
      metrics("corpus.write_s") = setups.head._2
      w.warm(spark)
      metrics ++= w.trace(spark)
    }
    spark.stop()
    val probeAfter = Host.probeMops()
    val ticks1 = Host.cpuTicks()
    val total = ticks1._2 - ticks0._2
    val steal = if (total > 0) (ticks1._1 - ticks0._1).toDouble / total else 0.0
    if (o.trace) {
      metrics("host.probe_before_mops") = probeBefore
      metrics("host.probe_after_mops") = probeAfter
      metrics("host.steal_frac") = steal
    }
    System.err.println(f"perfbench host: probe_before=$probeBefore%.1f Mop/s " +
      f"probe_after=$probeAfter%.1f Mop/s steal=$steal%.4f")

    val units = (if (o.trace) perLayer else endToEnd).toMap
    val ms = metrics.toSeq.filter { case (k, _) => units.contains(k) }.map { case (k, v) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(units(k))}}"
    }.mkString("{", ", ", "}")
    val checks = w.checks.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}")
    val json = s"""{"correct": ${w.failed == 0}, "attempted": ${w.attempted}, """ +
      s""""failed": ${w.failed}, "metrics": $ms, "checks": $checks}"""
    Files.writeString(Paths.get(o.out), json + "\n")
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String = graft.JsonOut.jstr(s)
}

/** One workload: its inputs, its unit of work (a job) and its checks. */
abstract class Workload(val o: Opts) {
  var attempted = 0L
  var failed = 0L
  /** Extra outputs for the runner (paths of query results to compare). */
  val checks: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty

  def okFrac: Double = if (attempted == 0) 0.0 else 1.0 - failed.toDouble / attempted

  /** Generates and writes the inputs; returns (generate s, write s). */
  def setup(spark: SparkSession): (Double, Double)
  /** Untimed warm-up jobs and the per-row golden or oracle check. */
  def warm(spark: SparkSession): Unit
  /** One timed job; returns its wall seconds. */
  def job(spark: SparkSession): Double
  /** Per-layer metrics from a traced run. */
  def trace(spark: SparkSession): Map[String, Double]

  /** Fewest jobs a timed run makes, however long they take. */
  def minJobs: Int = 3

  /** Closed loop: jobs back to back until `budget` seconds have passed and
    * at least [[minJobs]] jobs have run. */
  def loop(spark: SparkSession, budget: Double): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (out.length < minJobs || (System.nanoTime() - t0) / 1e9 < budget) out += job(spark)
    out.toSeq
  }

  protected def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  protected def dir(name: String): String = s"${o.work}/$name"
  protected def rm(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  /** A recorder attached for the duration of `f`. */
  protected def recording[T](spark: SparkSession)(f: Recorder => T): T = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try f(rec) finally spark.sparkContext.removeSparkListener(rec)
  }
  protected def drain(spark: SparkSession): Unit = BenchBus.drain(spark.sparkContext)
}

/** Shared by the extraction workloads: a golden corpus on parquet,
  * an order-independent checksum of (url, text), and a per-url check. */
abstract class ExtractionWorkload(o0: Opts) extends Workload(o0) {
  def nDocs: Int
  def nMega: Int
  val pagesDir: String = dir("pages")
  val goldenDir: String = dir("golden")
  private var goldenSum = 0L
  private var goldenRows = 0L

  def setup(spark: SparkSession): (Double, Double) = {
    val times = Inputs.writeCorpus(spark, o.seed, nDocs, nMega, pagesDir, goldenDir,
      partitions = 4 * o.nproc)
    val g = spark.read.parquet(goldenDir)
    goldenRows = g.count()
    goldenSum = checksum(g.select(col("url"), col("expected").as("text")))
    times
  }

  def pages(spark: SparkSession): Dataset[PageRow] = {
    import spark.implicits._
    spark.read.parquet(pagesDir).as[PageRow]
  }

  /** Per-row murmur3(url + "\n" + text); their sum is the order-independent
    * checksum. */
  def hashes(df: DataFrame): Dataset[Long] = {
    import df.sparkSession.implicits._
    df.select(col("url"), col("text")).as[(String, String)]
      .map { case (u, t) => scala.util.hashing.MurmurHash3.stringHash(u + "\n" + t).toLong }
  }
  def checksum(df: DataFrame): Long = hashes(df).reduce(_ + _)

  /** Counts a job's documents as attempted, and all of them as failed when
    * the job's checksum differs from the golden one. */
  def account(sum: Long): Unit = {
    attempted += goldenRows
    if (sum != goldenSum) failed += goldenRows
  }

  /** Per-url byte-identical compare of `out` (url, text) with golden. */
  def goldenCheck(out: DataFrame): Unit = {
    val o2 = out.select(col("url"), col("text"))
    val bad = out.sparkSession.read.parquet(goldenDir).join(o2, Seq("url"), "left_outer")
      .filter(col("text").isNull || col("text") =!= col("expected"))
    val nBad = bad.count() + math.abs(o2.count() - goldenRows)
    attempted += goldenRows
    failed += nBad
    if (nBad > 0) bad.select("url", "cls").limit(20).collect()
      .foreach(r => System.err.println(s"perfbench golden mismatch: ${r.getString(0)} (${r.getString(1)})"))
  }

  /** Per-layer timings by direct calls over the whole corpus (a first
    * untimed pass warms the JIT). */
  def layerTrace(spark: SparkSession): Map[String, Double] = {
    val rows = pages(spark).collect()
    new Layers().run(rows.take(2000))
    val l = new Layers()
    l.run(rows)
    l.report()
  }
}

/** extract_scan: parquet → Extract.run → order-independent hash. */
final class ScanWorkload(o0: Opts) extends ExtractionWorkload(o0) {
  val nDocs: Int = if (o.tiny) 64 else 6000
  val nMega = 0

  // The scan → kernel → hash plan is built once per session and every job
  // reruns it, so a job times the scan and the kernel, not the planning of
  // the encoder-heavy Dataset (about 0.2 s a job on 4,000 documents).
  private var plan: Option[(SparkSession, Dataset[Long])] = None

  private def runOnce(spark: SparkSession): Long = {
    if (!plan.exists(_._1 eq spark)) plan = Some(spark -> hashes(Extract.run(pages(spark)).toDF()))
    plan.get._2.reduce(_ + _)
  }

  def warm(spark: SparkSession): Unit = {
    val walls = (0 until 6).map { _ =>
      val (sum, s) = timed(runOnce(spark))
      account(sum)
      s
    }
    System.err.println(s"perfbench warm-up jobs: ${walls.map(x => f"$x%.3f").mkString(" ")}")
    goldenCheck(Extract.run(pages(spark)).toDF())
  }

  def job(spark: SparkSession): Double = {
    val (sum, s) = timed(runOnce(spark))
    account(sum)
    s
  }

  def trace(spark: SparkSession): Map[String, Double] = {
    val layers = layerTrace(spark)
    val runs = recording(spark) { rec =>
      (0 until 3).map { _ =>
        rec.clear()
        val s = job(spark)
        drain(spark)
        val ts = rec.taskRecs
        (Stats.skew(ts.map(_.durationMs)), ts.map(_.gcMs).sum / 1e3, s)
      }
    }
    // north-rule ratio: docs/s at local[nproc] over nproc x docs/s at local[1]
    spark.stop()
    val one = Main.session(o, 1)
    val jobs1 = try (0 until 3).map(_ => job(one)) finally one.stop()
    layers ++ Map(
      "scan.task_skew" -> Stats.median(runs.map(_._1)),
      "scan.gc_s" -> Stats.median(runs.map(_._2)),
      "scan.scaling_eff" -> Stats.median(jobs1) / (o.nproc * Stats.median(runs.map(_._3))))
  }
}

/** mega_skew: a corpus slice plus planted mega documents through
  * ExtractPipeline.run into an empty output directory; the committed output
  * is read back for the golden check. */
final class MegaWorkload(o0: Opts) extends ExtractionWorkload(o0) {
  val nDocs: Int = if (o.tiny) 32 else 300
  val nMega: Int = if (o.tiny) 2 else 8
  private val outDir = dir("out")

  private def runOnce(spark: SparkSession): Double = {
    rm(outDir)
    val (_, s) = timed(ExtractPipeline.run(spark, pages(spark), outDir))
    s
  }
  private def output(spark: SparkSession): DataFrame = ExtractPipeline.output(spark, outDir)

  override def minJobs: Int = 2

  def warm(spark: SparkSession): Unit = {
    // the second job still runs about 10% slower than the fourth: two jobs
    // warm up and two are timed, as many jobs as one warm-up and three timed
    val walls = (0 until 2).map(_ => runOnce(spark))
    System.err.println(s"perfbench warm-up jobs: ${walls.map(x => f"$x%.3f").mkString(" ")}")
    account(checksum(output(spark)))
    goldenCheck(output(spark))
  }

  def job(spark: SparkSession): Double = {
    val s = runOnce(spark)
    account(checksum(output(spark)))
    s
  }

  private def dirBytes(path: String): Long =
    org.apache.commons.io.FileUtils.listFiles(new File(path), null, true).toArray
      .map(_.asInstanceOf[File]).filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.length).sum

  def trace(spark: SparkSession): Map[String, Double] = {
    val layers = layerTrace(spark)
    val inputBytes = {
      import spark.implicits._
      pages(spark).map(p => if (p.html == null) 0L else p.html.length.toLong).reduce(_ + _)
    }
    val runs = recording(spark) { rec =>
      (0 until 3).map { _ =>
        rec.clear()
        val t0 = System.currentTimeMillis()
        runOnce(spark)
        val end = System.currentTimeMillis()
        drain(spark)
        account(checksum(output(spark)))
        val tasks = rec.taskRecs
        val jobs = rec.jobRecs.filter(_.startMs >= t0).sortBy(_.startMs)
        val byStage = tasks.groupBy(_.stageId)
        val mapStages = byStage.filter(_._2.exists(_.shuffleWrite > 0)).keySet
        // the write job: the first job that reads the bucket shuffle
        val writeJob = jobs.find(j => j.stageIds.exists(s => byStage.get(s)
          .exists(_.exists(_.shuffleRead > 0))))
        val reduceTasks = writeJob.toSeq.flatMap(_.stageIds)
          .filterNot(mapStages).flatMap(s => byStage.getOrElse(s, Nil))
        val writeEnd = writeJob.map(_.endMs).getOrElse(end)
        val lastTask = if (reduceTasks.isEmpty) writeEnd else reduceTasks.map(_.finishMs).max
        val lineageNs = ExtractPipeline.lineage(spark, outDir)
          .agg(sum(col("tokenizeNanos") + col("domNanos") + col("classifyNanos") +
            col("assembleNanos"))).head().getLong(0)
        Map(
          "pipeline.map_s" -> tasks.filter(t => mapStages(t.stageId)).map(_.runMs).sum / 1e3,
          "pipeline.shuffle_write_mb" -> Stats.mb(tasks.map(_.shuffleWrite).sum),
          "pipeline.shuffle_read_mb" -> Stats.mb(tasks.map(_.shuffleRead).sum),
          "pipeline.spill_mb" -> Stats.mb(tasks.map(_.spill).sum),
          "pipeline.reduce_s" -> reduceTasks.map(_.runMs).sum / 1e3,
          "pipeline.commit_s" -> math.max(0L, writeEnd - lastTask) / 1e3,
          "pipeline.lineage_s" -> math.max(0L, end - writeEnd) / 1e3,
          "pipeline.write_amp" -> dirBytes(ExtractPipeline.dataDir(outDir)).toDouble / inputBytes,
          "pipeline.task_skew" -> Stats.skew(reduceTasks.map(_.durationMs)),
          "pipeline.task_max_s" -> (if (reduceTasks.isEmpty) 0.0 else reduceTasks.map(_.durationMs).max / 1e3),
          "pipeline.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
          "pipeline.tasks_failed" -> tasks.count(_.failed).toDouble,
          "extract.lineage_kernel_s" -> lineageNs / 1e9)
      }
    }
    layers ++ runs.head.keys.map(k => k -> Stats.median(runs.map(_(k))))
  }
}

object QueryWorkload {
  /** (documents, embeddings, events) rows: half of the suite's sf0.1 tables,
    * generated with their distributions (see workloads.json). */
  val rows: (Int, Int, Int) = (2500, 1000, 50000)
}

/** index_queries: the index query list over generated documents,
  * embeddings and events tables; outputs are checked against the DuckDB
  * oracles by the runner. */
final class QueryWorkload(o0: Opts) extends Workload(o0) {
  import Main.indexQueries
  private val (nDocs, nEmb, nEvents) = if (o.tiny) (300, 300, 2000) else QueryWorkload.rows
  private val dataDir = dir("data")
  private var executions = 0

  def setup(spark: SparkSession): (Double, Double) =
    Inputs.writeIndexTables(spark, o.seed, nDocs, nEmb, nEvents, dataDir, partitions = o.nproc)

  /** Counts one failed execution of `name`; the runner reads the per-query
    * count so that it does not count these executions again. */
  private def queryFailed(name: String, e: Exception): Unit = {
    failed += 1
    checks(s"failed.$name") = (checks.get(s"failed.$name").fold(0)(_.toInt) + 1).toString
    System.err.println(s"perfbench query $name failed: $e")
  }

  private def runQuery(spark: SparkSession, name: String): Double = {
    attempted += 1
    val (_, s) = timed {
      try SparkEntry.queries(name)(spark, dataDir).write.mode("overwrite").format("noop").save()
      catch { case e: Exception => queryFailed(name, e) }
    }
    s
  }

  /** One pass is longer than a run's window, so a run times one pass. */
  override def minJobs: Int = 1

  /** The untimed first execution of each query writes its result to
    * parquet for the runner's DuckDB oracle compare. The runner computes
    * the oracles while this pass runs: `oracle.ready` names the tables and
    * the oracle SQL, and the timed queries wait for the runner's
    * `oracle.done`, so no oracle shares the CPU with a timed query. */
  def warm(spark: SparkSession): Unit = {
    val sql = indexQueries.map(n => s"${Json.str(n)}: ${Json.str(SparkEntry.oracleSql(n))}")
      .mkString("{", ", ", "}")
    val ready = Paths.get(dir("oracle.ready"))
    Files.writeString(Paths.get(dir("oracle.tmp")), s"""{"data": ${Json.str(dataDir)}, "oracle": $sql}""")
    Files.move(Paths.get(dir("oracle.tmp")), ready, StandardCopyOption.ATOMIC_MOVE)
    val first = indexQueries.map { name =>
      val dest = dir(s"check/$name")
      attempted += 1
      val (_, s) = timed {
        try SparkEntry.queries(name)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(dest)
        catch { case e: Exception => queryFailed(name, e) }
      }
      checks(s"result.$name") = dest
      name -> s
    }
    System.err.println("perfbench first pass: " +
      first.map { case (q, s) => f"${Main.queryId(q)}=$s%.2f" }.mkString(" "))
    executions += 1
    checks("executions") = executions.toString
    val done = new File(dir("oracle.done"))
    val t0 = System.nanoTime()
    while (!done.exists()) {
      require((System.nanoTime() - t0) / 1e9 < 120, "the runner never finished the oracles")
      Thread.sleep(20)
    }
  }

  def job(spark: SparkSession): Double = {
    executions += 1
    checks("executions") = executions.toString
    indexQueries.map(runQuery(spark, _)).sum
  }

  def trace(spark: SparkSession): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    recording(spark) { rec =>
      var blocks = 0L
      var inTasks = 0.0
      indexQueries.foreach { name =>
        rec.clear()
        val t0 = System.currentTimeMillis()
        val s = runQuery(spark, name)
        val t1 = System.currentTimeMillis()
        drain(spark)
        val ts = rec.taskRecs
        val q = Main.queryId(name)
        out(s"q.$q.s") = s
        out(s"q.$q.shuffle_mb") = Stats.mb(ts.map(_.shuffleWrite).sum)
        out(s"q.$q.spill_mb") = Stats.mb(ts.map(_.spill).sum)
        out(s"q.$q.task_skew") = Stats.skew(ts.map(_.durationMs))
        out(s"q.$q.task_frac") = Stats.taskFrac(ts, t0, t1)
        inTasks += out(s"q.$q.task_frac") * s
        blocks += rec.blockBytes
      }
      executions += 1
      checks("executions") = executions.toString
      out("functions.checkpoint_mb") = Stats.mb(blocks)
      out("functions.task_frac") = inTasks / indexQueries.map(n => out(s"q.${Main.queryId(n)}.s")).sum
    }
    out.toMap
  }
}
