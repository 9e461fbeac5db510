package graft

import org.apache.spark.sql.SparkSession

/**
 * The one Spark session every main (Bench, RunOne, Verify, Smoke,
 * FsckMain, ScaleSmoke) and the test suite build: `local[cores]` with
 * as many shuffle partitions as cores, UTC, no UI, a 4 GB driver
 * result cap and WARN logging. AQE and its partition coalescing are
 * Spark's defaults, so nothing here sets them.
 */
object Harness {

  /** `SPARK_GRAFT_CPUS` when set, else the JVM's available processors. */
  def cores: Int = parseCores(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCores(v: Option[String]): Int = v match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive int, got: '$s'"))
  }

  def session(cores: Int = Harness.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "4g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
