package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.CpuMeter

/**
 * Benchmark entry point, one JVM per run:
 *
 *   Main --workload <cdc_dirty|cdc_fanout|catalogue> --seed <n>
 *        --seconds <s> --trace <0|1> --work <dir> [--corrupt-expected]
 *   Main --prepare --work <dir>       (write the data sets)
 *
 * With `--trace 0` it prints the end-to-end metrics, with `--trace 1`
 * the per-layer ones, each by name and unit, after human-readable
 * `[perfbench]` lines; the last stdout line is the JSON result.
 */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, cores: Int, corruptExpected: Boolean)

  def catalogueDir(work: String) = s"$work/data/catalogue_sf${DataGen.CatalogueSf}"
  def eventsDir(work: String) = s"$work/data/events_sf${CdcFeedGen.Sf}"
  def wireFile(work: String) = s"$work/data/cdc_wire_sf${CdcFeedGen.Sf}.bin"

  /** Set-ups per untraced run; `setup_s` is their median. */
  val SetupReps = 5

  /** End-to-end metrics the result carries, with `--trace 0` on every
    * workload. A batch is a micro-batch on the replication workloads
    * and one pass over the catalogue sample on `catalogue`. The timed
    * ones (`batch_p50_ms`, `executor_cpu_s`, `events_per_s`,
    * `catalogue_s`, `batch_tail_ms`) go on a `printed only` line: they
    * spread from run to run by more than a third of the largest bound
    * the benchmark may set. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "spark_jobs_per_batch" -> "count")

  /** Per-layer metrics of the replication workloads. */
  val CdcPerLayer: Seq[(String, String)] = Seq(
    "streaming.batches" -> "count", "streaming.add_batch_ms" -> "ms",
    "streaming.overhead_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "normalize.rows_in" -> "count", "normalize.corrupt_rows" -> "count") ++
    CdcFeedGen.Reasons.map { case (r, _) => s"normalize.corrupt.$r" -> "count" } ++ Seq(
    "normalize.wall_ms" -> "ms", "normalize.cpu_s" -> "s",
    "lww.rows_in" -> "count", "lww.rows_out" -> "count",
    "lww.shuffle_records" -> "count", "lww.cpu_s" -> "s",
    "apply.wall_ms" -> "ms", "apply.spark_jobs_per_batch" -> "count",
    "apply.shuffle_exchanges_per_batch" -> "count", "apply.tables_per_batch" -> "count",
    "apply.unroutable_rows" -> "count",
    "dlq.rows" -> "count", "dlq.wall_s" -> "s", "dlq.cpu_s" -> "s", "dlq.db_s" -> "s",
    "dlq.statements" -> "count",
    "jdbc.connections" -> "count", "jdbc.execute_batch_calls" -> "count",
    "jdbc.rows_per_execute_batch" -> "count", "jdbc.upsert_rows" -> "count",
    "jdbc.delete_rows" -> "count", "jdbc.update_miss_inserts" -> "count",
    "jdbc.metadata_calls" -> "count", "jdbc.ddl_statements" -> "count",
    "jdbc.commits" -> "count", "jdbc.rollbacks" -> "count",
    "jdbc.transient_retries" -> "count", "jdbc.db_s" -> "s")

  /** Per-layer metrics of the catalogue modules. */
  val CataloguePerLayer: Seq[(String, String)] =
    Catalogue.Modules.flatMap(m => Seq(s"$m.wall_s" -> "s", s"$m.cpu_s" -> "s",
      s"$m.spark_jobs" -> "count", s"$m.shuffle_records" -> "count"))

  /** Per-layer metrics, printed with `--trace 1` on every workload; the
    * layers a workload does not run read 0. */
  val PerLayer: Seq[(String, String)] = CdcPerLayer ++ CataloguePerLayer ++ Seq(
    "jvm.peak_heap_mb" -> "MB", "trace.overhead_pct" -> "%")

  final case class Result(attempted: Long, failed: Long, metrics: Map[String, Double])

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.US)
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val work = kv.getOrElse("--work", sys.error("--work <dir> is required"))
    if (args.contains("--prepare")) { prepare(work); return }
    val opts = Opts(kv.getOrElse("--workload", sys.error("--workload is required")),
      kv.getOrElse("--seed", "1").toLong, kv.getOrElse("--seconds", "10").toDouble,
      kv.getOrElse("--trace", "0") == "1", work,
      Runtime.getRuntime.availableProcessors,
      args.contains("--corrupt-expected"))
    val r = opts.workload match {
      case "cdc_dirty" => CdcRun(opts, CdcWorkload.Dirty)
      case "cdc_fanout" => CdcRun(opts, CdcWorkload.Fanout)
      case "catalogue" => CatalogueRun(opts)
      case w => sys.error(s"unknown workload $w")
    }
    val names = if (opts.trace) PerLayer else EndToEnd
    names.foreach { case (n, u) => log(f"$n%-36s ${r.metrics.getOrElse(n, 0.0)}%14.4f $u") }
    log(f"failed_share ${r.failed.toDouble / math.max(1L, r.attempted)}%.4f " +
      s"(${r.failed} failed of ${r.attempted} attempted)")
    val ms = names.map { case (n, u) =>
      s""""$n":{"value":${json(r.metrics.getOrElse(n, 0.0))},"unit":"$u"}""" }
    println(s"""{"correct":${r.failed == 0},"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"metrics":{${ms.mkString(",")}}}""")
  }

  def log(s: String): Unit = println(s"[perfbench] $s")

  private def json(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it; the
    * maximum when there are fewer than 21 samples, where that
    * percentile would lie below the median. */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    if (s.size >= 21)
      (s(s.size - 11), f"p${100.0 * (s.size - 10) / s.size}%.1f of n=${s.size}")
    else (s.lastOption.getOrElse(0.0), s"max of n=${s.size} (fewer than 21 samples)")
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def peakHeapMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  /**
   * Set up `reps` times — each time the same steps on a freshly started
   * Spark session — releasing every set-up but the last. Returns the
   * last one with the median set-up time.
   */
  def setUp[A](reps: Int, opts: Opts)(stage: SparkSession => A)(release: A => Unit)
      : (SparkSession, A, Double) = {
    var spark: SparkSession = null
    var staged: Option[A] = None
    val times = (1 to reps).map { _ =>
      staged.foreach(release)
      if (spark != null) spark.stop()
      timed { spark = Session.start(opts.cores, opts.work); staged = Some(stage(spark)) }._2
    }
    log(s"setup reps (s): ${times.map(t => f"$t%.3f").mkString(" ")}")
    (spark, staged.get, median(times))
  }

  /** Counts the Spark jobs started while it is attached. */
  final class JobCounter extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      { jobs.incrementAndGet(); () }
  }

  def prepare(work: String): Unit = {
    val spark = Session.start(Runtime.getRuntime.availableProcessors, work)
    try {
      DataGen.writeAll(spark, catalogueDir(work), DataGen.CatalogueSf, DataGen.DataSeed)
      CdcFeedGen.prepare(spark, eventsDir(work), wireFile(work))
    } finally spark.stop()
  }
}

/** One run of a replication workload. */
object CdcRun {
  import Main._

  /** Warm-up micro-batches on the last set-up's stream, before measuring. */
  val WarmBatches = 2
  /** Micro-batches of each pass of a traced run. */
  val TracedBatches = 2

  def apply(opts: Opts, spec: CdcSpec): Result = {
    CountingJdbc.register(CdcWorkload.CorruptTable)
    val ckpt = () => s"${opts.work}/checkpoints/${java.util.UUID.randomUUID()}"
    // the harness's own input: the wire feed, built once per run
    val (feed, feedS) = timed(CdcFeedGen(wireFile(opts.work), opts.seed, spec.chunk, spec.fanout))
    log(f"feed built in $feedS%.3f s (not part of setup_s)")
    // a set-up: session start, database with the target tables, stream start
    val (spark0, shell, setupS) = setUp(if (opts.trace) 1 else SetupReps, opts) { s =>
      new CdcWorkload.Shell(s, feed, spec, CdcWorkload.freshDb(feed), ckpt())
    } { sh => sh.stop(); sh.db.drop() }
    // warm-up: the stream's first micro-batches; the measured ones follow
    val warm = shell.run(0, WarmBatches, WarmBatches)
    log(s"warm-up (not part of setup_s): ${warm.latenciesMs.map(_.round).mkString(",")} ms")
    var spark = spark0
    log(s"${spec.name} seed=${opts.seed} cores=${opts.cores} chunk=${spec.chunk} " +
      CdcFeedGen.describe(feed.events))
    log(s"first ${spec.chunk}-event micro-batch: " +
      CdcFeedGen.describe(feed.events.take(spec.chunk)))
    try {
      if (!opts.trace) {
        val meter = CpuMeter.attach(spark.sparkContext)
        val counter = new JobCounter
        spark.sparkContext.addSparkListener(counter)
        val c0 = meter.snapshotNs()
        val pass = shell.run(opts.seconds, 2, Int.MaxValue)
        val cpu = (meter.snapshotNs() - c0) / 1e9 // the snapshot drains the listener bus
        val nJobs = counter.jobs.get
        shell.stop()
        val issues = CdcWorkload.check(feed, shell.events, shell.db, opts.corruptExpected)
        issues.foreach(i => log(s"MISMATCH $i"))
        val events = pass.batches * spec.chunk
        val (tailMs, tailNote) = tail(pass.latenciesMs)
        val batches = math.max(1, pass.batches)
        log(s"measured batches=${pass.batches} events=$events wall=${pass.wallS} " +
          s"latencies_ms=${pass.latenciesMs.map(_.round).mkString(",")}")
        log(f"printed only: batch_p50_ms ${median(pass.latenciesMs)}%.1f, " +
          f"executor_cpu_s ${cpu / batches}%.4f, events_per_s ${events / pass.wallS}%.2f, " +
          f"batch_tail_ms $tailMs%.1f ($tailNote)")
        Result(pass.batches + pass.failed + WarmBatches,
          pass.failed + warm.failed + issues.size, Map(
          "setup_s" -> setupS,
          "spark_jobs_per_batch" -> nJobs.toDouble / batches))
      } else {
        val r = traced(opts, spec, feed, spark, shell, ckpt, s => spark = s)
        r.copy(attempted = r.attempted + WarmBatches, failed = r.failed + warm.failed)
      }
    } finally { shell.stop(); spark.stop() }
  }

  private def traced(opts: Opts, spec: CdcSpec, feed: CdcFeedGen.Feed, spark: SparkSession,
      shell: CdcWorkload.Shell, ckpt: () => String,
      restarted: SparkSession => Unit): Result = {
    val k = TracedBatches
    val events = k * spec.chunk
    // 1. the stream shell's own cost, from StreamingQueryProgress.durationMs
    val shellPass = shell.run(0, k, k)
    shell.stop()
    val progress = shell.progress.filter(_.batchId >= WarmBatches)
    val shellIssues = CdcWorkload.check(feed, shell.events, shell.db)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, key: String): Double =
      Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)
    // 2. the first k chunks driven directly, each one untraced into one
    //    database and then traced into another, so both passes see the
    //    same JIT state
    val trace = new Trace
    val probe = new CdcWorkload.Probe(trace)
    val ledger = Ledger.attach(spark.sparkContext)
    val (plainDb, db) = (CdcWorkload.freshDb(feed), CdcWorkload.freshDb(feed))
    val j0 = CountingJdbc.counters.snapshot
    val (plain, run) = (0 until k).map { i =>
      (CdcWorkload.direct(spark, feed, spec, plainDb, i, None),
        CdcWorkload.direct(spark, feed, spec, db, i, Some(probe)))
    }.unzip
    val jdbc = CountingJdbc.counters.snapshot - j0
    ledger.drain()
    val issues = shellIssues ++ CdcWorkload.check(feed, events, db, opts.corruptExpected)
    issues.foreach(i => log(s"MISMATCH $i"))
    trace.attach("apply", ledger.executionsList.filter { case (l, _, _) =>
      l == "dlq" || l.startsWith("apply.") })
    val applyT = Seq("apply.batch", "apply.table", "dlq").map(ledger.totals).reduce(_ + _)
    val dlqWallS = ledger.executionsList.filter(_._1 == "dlq")
      .map { case (_, s, e) => e - s }.sum / 1000.0
    val plainEps = events / (plain.flatten.sum / 1000)
    val tracedEps = events / (run.flatten.sum / 1000)
    log(f"trace overhead: direct untraced $plainEps%.2f events/s, traced $tracedEps%.2f " +
      f"events/s; stream shell ${k * spec.chunk / shellPass.wallS}%.2f events/s")
    log(s"ledger layers: " + ledger.layers.map { l =>
      val t = ledger.totals(l); f"$l(jobs=${t.jobs},cpu=${t.cpuNs / 1e9}%.3fs)" }.mkString(" "))
    trace.summary.foreach { case (n, c, tot, self) =>
      log(f"span $n%-12s n=$c%4d total_ms=$tot%10.1f self_ms=$self%10.1f") }
    val path = s"${opts.work}/traces/${spec.name}-seed${opts.seed}.json"
    trace.write(path)
    log(s"spans written to $path")
    if (spec == CdcWorkload.Dirty) singleThread(opts, spec, feed, spark, ckpt, restarted)
    val kk = k.toDouble
    val m = Map(
      "streaming.batches" -> progress.size.toDouble,
      "streaming.add_batch_ms" -> median(progress.map(dur(_, "addBatch"))),
      "streaming.overhead_ms" -> median(progress.map(p =>
        dur(p, "triggerExecution") - dur(p, "addBatch"))),
      "streaming.query_planning_ms" -> median(progress.map(dur(_, "queryPlanning"))),
      "normalize.rows_in" -> probe.rowsIn.toDouble,
      "normalize.corrupt_rows" -> probe.corruptRows.toDouble,
      "normalize.wall_ms" -> median(probe.normalizeMs.result()),
      "normalize.cpu_s" -> ledger.totals("normalize").cpuNs / 1e9,
      "lww.rows_in" -> probe.lwwIn.toDouble,
      "lww.rows_out" -> probe.lwwOut.toDouble,
      "lww.shuffle_records" -> ledger.totals("lww").shuffleRecords.toDouble,
      "lww.cpu_s" -> ledger.totals("lww").cpuNs / 1e9,
      "apply.wall_ms" -> median(probe.applyMs.result()),
      "apply.spark_jobs_per_batch" -> applyT.jobs / kk,
      "apply.shuffle_exchanges_per_batch" -> applyT.exchanges / kk,
      "apply.tables_per_batch" -> probe.tableCount / kk,
      "apply.unroutable_rows" -> probe.unroutable.toDouble,
      "dlq.rows" -> probe.dlqRows.toDouble,
      "dlq.wall_s" -> dlqWallS,
      "dlq.cpu_s" -> ledger.totals("dlq").cpuNs / 1e9,
      "dlq.db_s" -> jdbc.dlqNanos / 1e9,
      "dlq.statements" -> jdbc.statements("dlq_delete", "dlq_insert").toDouble,
      "jdbc.connections" -> jdbc.connections.toDouble,
      "jdbc.execute_batch_calls" -> jdbc.batchCalls.values.sum.toDouble,
      "jdbc.rows_per_execute_batch" -> jdbc.batchRows.values.sum.toDouble /
        math.max(1L, jdbc.batchCalls.values.sum),
      "jdbc.upsert_rows" -> jdbc.rows("update", "merge").toDouble,
      "jdbc.delete_rows" -> jdbc.rows("delete").toDouble,
      "jdbc.update_miss_inserts" -> jdbc.rows("insert").toDouble,
      "jdbc.metadata_calls" -> jdbc.metadataCalls.toDouble,
      "jdbc.ddl_statements" -> jdbc.statements("ddl").toDouble,
      "jdbc.commits" -> jdbc.commits.toDouble,
      "jdbc.rollbacks" -> jdbc.rollbacks.toDouble,
      "jdbc.transient_retries" -> jdbc.transientFailures.toDouble,
      "jdbc.db_s" -> jdbc.nanos / 1e9,
      "jvm.peak_heap_mb" -> peakHeapMb,
      "trace.overhead_pct" -> (plainEps - tracedEps) / plainEps * 100) ++
      probe.corrupt.map { case (r, n) => s"normalize.corrupt.$r" -> n.toDouble }
    Result(3L * k, shellPass.failed + plain.count(_.isEmpty) + run.count(_.isEmpty) +
      issues.size, m)
  }

  /** Single-thread baseline: the same stream on `local[1]`, printed only. */
  private def singleThread(opts: Opts, spec: CdcSpec, feed: CdcFeedGen.Feed,
      spark: SparkSession, ckpt: () => String, restarted: SparkSession => Unit): Unit = {
    spark.stop()
    val one = Session.start(1, opts.work)
    restarted(one)
    val shell = new CdcWorkload.Shell(one, feed, spec, CdcWorkload.freshDb(feed), ckpt())
    val p = try shell.run(0, 2, 2) finally shell.stop()
    val steady = p.latenciesMs.drop(1)
    log(f"single-thread baseline (local[1], micro-batch 2 of a fresh stream): " +
      f"${steady.size * spec.chunk / (steady.sum / 1000)}%.2f events/s, " +
      f"batch p50 ${median(steady)}%.1f ms")
  }
}

/** One run of the catalogue workload. */
object CatalogueRun {
  import Main._

  /** Warm-up passes over the sample, before measuring. */
  val WarmPasses = 2

  def apply(opts: Opts): Result = {
    val dir = catalogueDir(opts.work)
    require(new java.io.File(dir).isDirectory,
      s"catalogue data set missing at $dir; run with --prepare first")
    val sample = Catalogue.Sample
    val order = (pass: Int) => new scala.util.Random(opts.seed * 1000 + pass).shuffle(sample)
    // a set-up: session start and table resolution
    val (spark, _, setupS) = setUp(if (opts.trace) 1 else SetupReps, opts) { s =>
      DataGen.Tables.foreach(t => graft.Tables(s, dir, t).schema)
    } { _ => () }
    // warm-up: passes over the sample before measuring
    val warm = (1 to WarmPasses).map(w => timed(Catalogue.pass(spark, dir, order(-w))))
    val warmFailed = warm.map(_._1.count(!_.ok)).sum
    log(s"warm-up (not part of setup_s): ${warm.map(w => f"${w._2}%.3f").mkString(",")} s")
    log(s"catalogue seed=${opts.seed} cores=${opts.cores} sample=${sample.size} queries " +
      s"of ${graft.SparkEntry.queries.size}: ${sample.mkString(",")}")
    try {
      if (!opts.trace) {
        val meter = CpuMeter.attach(spark.sparkContext)
        val counter = new JobCounter
        spark.sparkContext.addSparkListener(counter)
        val c0 = meter.snapshotNs()
        val t0 = System.nanoTime()
        val passes = Vector.newBuilder[(Seq[Catalogue.Exec], Double)]
        var i = 1
        while (i <= 2 || (System.nanoTime() - t0) / 1e9 < opts.seconds) {
          passes += timed(Catalogue.pass(spark, dir, order(i)))
          i += 1
        }
        val cpu = (meter.snapshotNs() - c0) / 1e9
        val done = passes.result()
        val execs = done.flatMap(_._1)
        // --corrupt-expected raises one query's pinned count by one
        val expected = (q: String) =>
          Catalogue.pinned(q) + (if (opts.corruptExpected && q == sample.head) 1 else 0)
        val bad = execs.filterNot(e => e.count.contains(expected(e.query)))
        bad.foreach(e => log(s"MISMATCH ${e.query}: expected ${expected(e.query)}, " +
          s"got ${e.count.map(_.toString).getOrElse("an error")}"))
        val passMs = done.map(_._2 * 1000)
        val (tailMs, tailNote) = tail(passMs)
        log(s"passes=${done.size} pass_ms=${passMs.map(_.round).mkString(",")}")
        log(f"printed only: batch_p50_ms ${median(passMs)}%.1f, " +
          f"executor_cpu_s ${cpu / done.size}%.4f, catalogue_s ${median(passMs) / 1000}%.3f, " +
          f"batch_tail_ms $tailMs%.1f ($tailNote); query_p50_ms " +
          f"${median(execs.map(_.wallMs))}%.1f")
        Result(execs.size + WarmPasses * sample.size, bad.size + warmFailed, Map(
          "setup_s" -> setupS,
          "spark_jobs_per_batch" -> counter.jobs.get.toDouble / done.size))
      } else {
        // each query twice untraced and twice traced, in the order
        // u-t-t-u or t-u-u-t by turns, so neither side always runs first
        // after a change of query, nor always later in the JIT's progress;
        // the per-module metrics are per traced execution
        val ledger = Ledger.attach(spark.sparkContext)
        val trace = new Trace
        val (plain, execs) = order(1).zipWithIndex.flatMap { case (q, i) =>
          val m = Catalogue.module(q)
          def traced() = trace.span(m) {
            Ledger.tagged(spark.sparkContext, s"catalogue.$m")(Catalogue.run(spark, dir, q))
          }
          def untraced() = Catalogue.run(spark, dir, q)
          val (a, b) = if (i % 2 == 0) (untraced _, traced _) else (traced _, untraced _)
          val Seq(a1, b1, b2, a2) = Seq(a, b, b, a).map(_())
          if (i % 2 == 0) Seq(a1 -> b1, a2 -> b2) else Seq(b1 -> a1, b2 -> a2)
        }.unzip
        ledger.drain()
        val plainS = plain.map(_.wallMs).sum / 1000
        val tracedS = execs.map(_.wallMs).sum / 1000
        val bad = execs.filterNot(_.ok)
        bad.foreach(e => log(s"MISMATCH ${e.query}"))
        log(f"trace overhead: untraced queries $plainS%.3f s, traced queries $tracedS%.3f s")
        trace.summary.foreach { case (n, c, tot, self) =>
          log(f"span $n%-12s n=$c%4d total_ms=$tot%10.1f self_ms=$self%10.1f") }
        val path = s"${opts.work}/traces/catalogue-seed${opts.seed}.json"
        trace.write(path)
        log(s"spans written to $path")
        val m = Catalogue.Modules.flatMap { mod =>
          val t = ledger.totals(s"catalogue.$mod")
          Seq(s"$mod.wall_s" -> execs.filter(e => Catalogue.module(e.query) == mod)
              .map(_.wallMs).sum / 1000 / 2,
            s"$mod.cpu_s" -> t.cpuNs / 1e9 / 2, s"$mod.spark_jobs" -> t.jobs / 2.0,
            s"$mod.shuffle_records" -> t.shuffleRecords / 2.0)
        }.toMap ++ Map("jvm.peak_heap_mb" -> peakHeapMb,
          "trace.overhead_pct" -> (tracedS - plainS) / plainS * 100)
        Result(2L * execs.size + WarmPasses * sample.size,
          bad.size + plain.count(!_.ok) + warmFailed, m)
      }
    } finally spark.stop()
  }
}
