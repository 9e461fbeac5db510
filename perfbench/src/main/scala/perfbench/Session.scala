package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: `local[cores]` with as many shuffle
  * partitions as cores and `graft.Bench`'s AQE/coalesce settings. Every
  * file Spark writes (shuffle spill, streaming checkpoints, warehouse)
  * lands under the benchmark's work directory. */
object Session {
  def start(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "4g")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
