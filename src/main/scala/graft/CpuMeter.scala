package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/**
 * The run meter shared by the measurement harnesses (Bench's
 * `queries_cpu`, RunOne's per-rep column, ScaleSmoke's load-immune
 * gates) and the specs that pin a job count: one listener summing
 * executor CPU, shuffle records read and output bytes written per
 * task, and counting jobs, with the listener-bus drain that makes a
 * before/after reading attribute events to the work between the two.
 * One implementation so a future accounting fix (filtering
 * speculative tasks, adding run time) lands everywhere.
 */
final class CpuMeter private (sc: SparkContext) {
  private val cpuNs, jobs, shuffleRecords, bytesWritten = new AtomicLong(0L)
  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleRecords.addAndGet(m.shuffleReadMetrics.recordsRead)
        bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
        ()
      }
    }
  }
  sc.addSparkListener(listener)

  private def drain(): Unit =
    org.apache.spark.sql.graftshim.GraftShims.waitListenerBusEmpty(sc)

  /** Drain the listener bus, then read the accumulated CPU nanos —
    * without the drain, tasks that finished before the call can still
    * be in flight on the bus and land in the NEXT interval. */
  def snapshotNs(): Long = { drain(); cpuNs.get }

  private def counts(): Seq[Long] = {
    drain()
    Seq(cpuNs.get, jobs.get, shuffleRecords.get, bytesWritten.get)
  }

  def remove(): Unit = sc.removeSparkListener(listener)
}

object CpuMeter {

  /** One measured run: the body's value, its wall seconds (the bus
    * drains fall outside them) and the executor CPU seconds, jobs,
    * shuffle records read and output bytes written between the two
    * drains. */
  final case class Run[A](value: A, wallS: Double, cpuS: Double,
      jobs: Long, shuffleRecords: Long, bytesWritten: Long)

  def attach(sc: SparkContext): CpuMeter = new CpuMeter(sc)

  /** Run `body` under a meter attached for this call only. */
  def measure[A](sc: SparkContext)(body: => A): Run[A] = {
    val meter = attach(sc)
    try {
      val before = meter.counts()
      val t0 = System.nanoTime()
      val value = body
      val wallS = (System.nanoTime() - t0) / 1e9
      val Seq(cpu, jobs, records, bytes) =
        meter.counts().zip(before).map { case (a, b) => a - b }
      Run(value, wallS, cpu / 1e9, jobs, records, bytes)
    } finally meter.remove()
  }
}
