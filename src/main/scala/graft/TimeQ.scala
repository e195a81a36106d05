package graft

import org.apache.spark.sql.SparkSession

/** Single-query timing probe (diagnostic only — not a contract
  * surface): `runMain graft.TimeQ <queryName> <sfDir>` times one
  * SparkEntry.queries entry through the noop sink, 4 passes. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val name = args(0); val dir = args(1)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (i <- 0 until 4) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"$name pass $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
