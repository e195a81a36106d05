package graft
import org.apache.spark.sql.SparkSession
import graft.pipeline.LocalFs
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** A failure line: exception class, message and the frame that threw. */
  def failure(e: Throwable): String =
    s"${e.getClass.getName}: ${e.getMessage}" +
      e.getStackTrace.headOption.fold("")(f => s" (at $f)")

  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [namePrefix] — the optional prefix restricts the
    // dump to matching queries (local iteration; the driver passes two args)
    val sfDir = args(0); val outDir = args(1)
    val prefix = if (args.length > 2) args(2) else ""
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(_._1.startsWith(prefix)).foreach { case (name, fn) =>
      val dest = s"$outDir/$name"
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .options(LocalFs.writeOptions).parquet(dest)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${failure(e)}")
        // a failed query must FAIL the compare, not silently pass against a
        // previous run's stale parquet left in a reused out dir
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dest))
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonOut.jstr(k)}: ${JsonOut.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
