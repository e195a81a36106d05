package perfbench

/** Writes the index_queries tables of one seed, for profiling them next to
  * the suite's tables (perfbench/tables.py). Usage: Tables <seed> <dir>. */
object Tables {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").appName("perfbench-tables")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${args(1)}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args(1)}/warehouse")
      .getOrCreate()
    try {
      val (d, e, v) = QueryWorkload.rows
      Inputs.writeIndexTables(spark, args(0).toLong, d, e, v, s"${args(1)}/data", partitions = 2)
    } finally spark.stop()
  }
}
