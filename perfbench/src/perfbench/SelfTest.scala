package perfbench

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning

import graft.extract.Extractor
import graft.pipeline.ExtractPipeline

/** Checks, for the 8 planted mega documents of each seed:
  *  - their golden text, authored from construction, equals single-pass
  *    Extractor.extract on them, for every PDF writer shape;
  *  - the pipeline routes them to 8 distinct mega buckets, and its bucket
  *    shuffle (hash repartition on the bucket) sends those buckets to 8
  *    distinct tasks.
  * Usage: SelfTest <seed>...; exits 1 on a failed check. */
object SelfTest {
  private val conf = Inputs.pipelineConf
  private val parts = conf.numBuckets + conf.megaBuckets

  /** The task (shuffle partition) the pipeline's repartition gives bucket `b`. */
  def partitionOf(b: Int): Int =
    HashPartitioning(Seq(Literal(b)), parts).partitionIdExpression.eval().asInstanceOf[Int]

  def main(args: Array[String]): Unit = {
    val seeds = if (args.isEmpty) Seq(1L) else args.toSeq.map(_.toLong)
    val bad = seeds.flatMap { seed =>
      // 4 HTML articles and one PDF per writer shape
      val docs = (0 until 8).map(Inputs.megaDoc(seed, _, 8))
      val texts = docs.flatMap { case (row, g) =>
        val doc = Extractor.extract(row.url, row.html)
        val ok = doc.text == g.expected && g.cls.startsWith("mega_") && !doc.truncated
        System.err.println(f"selftest seed=$seed ${g.url} ${g.cls} ${row.html.length / 1e6}%.2f MB " +
          (if (ok) "ok" else "MISMATCH"))
        if (ok) None else Some(s"${g.url}: text differs from golden")
      }
      val buckets = docs.map { case (row, _) => ExtractPipeline.bucketOf(row.url, row.html.length, conf) }
      val tasks = buckets.map(partitionOf)
      val shared = tasks.map(t => (0 until conf.numBuckets).count(partitionOf(_) == t))
      System.err.println(s"selftest seed=$seed mega buckets ${buckets.mkString(",")} -> tasks " +
        s"${tasks.mkString(",")}, normal buckets sharing each task ${shared.mkString(",")}")
      val layout =
        if (buckets.distinct.size == 8 && tasks.distinct.size == 8) None
        else Some(s"seed $seed: planted documents share a mega bucket or a task")
      texts ++ layout
    }
    bad.foreach(b => System.err.println(s"selftest: $b"))
    if (bad.nonEmpty) sys.exit(1)
  }
}
