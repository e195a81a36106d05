package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.extract.ExtractConfig
import graft.model.PageRow
import graft.pipeline.Extract

/** Streaming EXTRACTION: the same pure per-row kernel runs unchanged over a
  * file stream of page batches — the incremental-crawl-ingest shape
  * (readStream → stateless mapPartitions transform → append sink). Because
  * extraction is a pure function of the row (north rule), the drained
  * streaming output is byte-identical to the batch extraction of the same
  * pages — asserted in StreamingSpec. No state store is involved at all:
  * new crawl files become new micro-batches, each extracted exactly once,
  * and the append sink is the same per-bucket idempotent write the batch
  * pipeline uses.
  */
object PageStream {

  /** Run extraction as a real incremental stream over `pages` (staged to a
    * temp dir of several files; one file per micro-batch), drain, and return
    * (url, text, n_spans, charset, status) for every page. */
  def runStreamExtract(spark: SparkSession, pages: Dataset[PageRow],
                       cfg: ExtractConfig = ExtractConfig()): DataFrame = {
    import spark.implicits._
    StreamHarness.runDrained(spark, "graft_page_stream", "append") { staging =>
      pages.repartition(4).write.mode("overwrite").parquet(staging)
    } { staging =>
      val stream = spark.readStream
        .schema(pages.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
        .as[PageRow]
      Extract.run(stream, cfg).toDF()
        .select(col("url"), col("text"), col("nSpans").as("n_spans"), col("charset"),
          col("status"))
    }.orderBy("url")
  }
}
