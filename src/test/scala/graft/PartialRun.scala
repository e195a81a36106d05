package graft

import org.apache.spark.sql.Dataset

import graft.model.PageRow
import graft.pipeline.{ExtractPipeline, PipelineConf}

/** The input of a pipeline run that died after committing only `buckets`:
  * the pages whose `ExtractPipeline.bucketOf` is one of them. A later
  * `resume = true` run over the full input completes the rest. */
object PartialRun {
  def pages(ds: Dataset[PageRow], conf: PipelineConf, buckets: Set[Int]): Dataset[PageRow] = {
    val keep: PageRow => Boolean = p => buckets.contains(
      ExtractPipeline.bucketOf(p.url, if (p.html == null) 0 else p.html.length, conf))
    ds.filter(keep)
  }
}
