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

  test("Harness.cores: unset means every available core; a bad SPARK_GRAFT_CPUS is named") {
    assert(Harness.parseCores(None) == Runtime.getRuntime.availableProcessors)
    assert(Harness.parseCores(Some("8")) == 8)
    Seq("0", "-2", "four", "").foreach { v =>
      val e = intercept[IllegalArgumentException](Harness.parseCores(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
