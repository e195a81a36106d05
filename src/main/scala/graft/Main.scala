package graft

import org.apache.spark.sql.SparkSession

import graft.extract.ExtractConfig
import graft.model.PageRow
import graft.pipeline.{ExtractPipeline, PipelineConf}

/** spark-submit entry point — the graft of the reference's CLI surface
  * (`paddleocr ocr -i ...`, paddleocr/__main__.py:21-35; parameter names
  * mirror tools/infer/utility.py:33-120 where a graft analog exists).
  *
  * {{{
  * spark-submit --class graft.Main paddleocrspark.jar \
  *   --in /data/pages_parquet --out /data/extracted \
  *   [--resume] [--buckets 4096] [--mega-buckets 64] [--mega-bytes 1048576] \
  *   [--max-html-bytes 8388608] [--max-blocks 10000] [--min-content-chars 10] \
  *   [--drop-score 0.05] [--max-pdf-pages 10000]
  * }}}
  *
  * Input: parquet/Iceberg-layout table with the BASELINE.json `input_hint`
  * shape (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang
  * STRING). Output: extracted table partitioned by bucket + lineage table
  * (`<out>/data`, `<out>/_lineage`); re-running with --resume completes only
  * missing buckets.
  */
object Main {

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--resume" => m("resume") = "true"; i += 1
        case flag if flag.startsWith("--") && i + 1 < args.length =>
          m(flag.drop(2)) = args(i + 1); i += 2
        case other =>
          throw new IllegalArgumentException(s"unexpected argument: $other")
      }
    }
    m.toMap
  }

  /** Parse args and run the pipeline on the given session. Returns
    * (bucketsProcessed, totalDocs). Factored out of main so the CLI surface
    * is end-to-end testable without owning the session lifecycle. */
  def run(spark: SparkSession, args: Array[String]): (Long, Long) = {
    val a = parseArgs(args)
    val in = a.getOrElse("in", sys.error("--in <pages parquet> is required"))
    val out = a.getOrElse("out", sys.error("--out <output dir> is required"))

    val conf = PipelineConf(
      numBuckets = a.get("buckets").map(_.toInt).getOrElse(64),
      megaBytes = a.get("mega-bytes").map(_.toInt).getOrElse(1 << 20),
      megaBuckets = a.get("mega-buckets").map(_.toInt).getOrElse(8),
      extract = ExtractConfig(
        maxHtmlBytes = a.get("max-html-bytes").map(_.toInt).getOrElse(8 * 1024 * 1024),
        maxBlocksPerDoc = a.get("max-blocks").map(_.toInt).getOrElse(10000),
        minContentChars = a.get("min-content-chars").map(_.toInt).getOrElse(10),
        dropScore = a.get("drop-score").map(_.toDouble).getOrElse(0.05),
        maxPdfPages = a.get("max-pdf-pages").map(_.toInt).getOrElse(10000)))

    import spark.implicits._
    val pages = spark.read.parquet(in).as[PageRow]
    val n = ExtractPipeline.run(spark, pages, out, conf, resume = a.contains("resume"))
    val docs = ExtractPipeline.output(spark, out).count()
    println(s"""{"buckets_processed":$n,"total_docs":$docs,"out":${JsonOut.jstr(out)}}""")
    (n, docs)
  }

  def main(args: Array[String]): Unit = {
    // spark-submit provides master/memory; local fallback for direct runs
    val builder = SparkSession.builder().appName("graft-extract")
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")
                   .config("spark.sql.shuffle.partitions",
                     Runtime.getRuntime.availableProcessors.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, args)
    spark.stop()
  }
}
