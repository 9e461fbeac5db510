package graft

/** Replicates the driver's smoke check: `SparkEntry.entry` on a plain
  * session (no extensions, no query-shaping confs) must return rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n " + (if (n > 0) "PASS" else "FAIL"))
    spark.stop()
  }
}
