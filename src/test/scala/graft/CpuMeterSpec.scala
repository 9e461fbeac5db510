package graft

/**
 * The run meter's counters, pinned on plans whose counts are known
 * exactly: a round-robin repartition reads every row through the
 * shuffle once, and a collect over a range runs one job with no
 * shuffle and no output.
 */
class CpuMeterSpec extends SparkSpec {

  test("measure counts every shuffled record and the bytes a write lands") {
    val out = java.nio.file.Files.createTempDirectory("graft-meter").toString + "/t"
    val run = CpuMeter.measure(spark.sparkContext)(
      spark.range(0, 1000, 1, 4).repartition(3).write.parquet(out))
    assert(run.shuffleRecords == 1000L, run)
    assert(run.bytesWritten > 0L, run)
    assert(run.jobs >= 1L && run.cpuS >= 0.0, run)
  }

  test("measure over a shuffle-free collect reads one job, no shuffle, no output") {
    val run = CpuMeter.measure(spark.sparkContext)(
      spark.range(0, 100, 1, 2).collect().length)
    assert(run.value == 100)
    assert((run.jobs, run.shuffleRecords, run.bytesWritten) == ((1L, 0L, 0L)), run)
  }

  test("jobs outside any SQL execution: an inferring read runs one, Tables none") {
    // spark.read.parquet infers its schema with a job of its own,
    // before any query starts; the footer read on the driver has none
    val dir = java.nio.file.Files.createTempDirectory("graft-meter-loose").toString
    spark.range(10).write.parquet(s"$dir/a.parquet")
    spark.range(10).write.parquet(s"$dir/b.parquet")
    val inferred = CpuMeter.measure(spark.sparkContext)(
      spark.read.parquet(s"$dir/a.parquet"))
    assert((inferred.jobs, inferred.jobsOutsideSql) == ((1L, 1L)), inferred)
    val resolved = CpuMeter.measure(spark.sparkContext)(Tables(spark, dir, "b"))
    assert(resolved.jobsOutsideSql == 0L, resolved)
    // a query's own job carries its execution id
    val counted = CpuMeter.measure(spark.sparkContext)(resolved.value.count())
    assert(counted.value == 10L && counted.jobs >= 1L && counted.jobsOutsideSql == 0L,
      counted)
  }

  test("Harness.cores: unset means every available core; a bad SPARK_GRAFT_CPUS is named") {
    assert(Harness.parseCores(None) == Runtime.getRuntime.availableProcessors)
    assert(Harness.parseCores(Some("8")) == 8)
    Seq("0", "-2", "four", "").foreach { v =>
      val e = intercept[IllegalArgumentException](Harness.parseCores(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
