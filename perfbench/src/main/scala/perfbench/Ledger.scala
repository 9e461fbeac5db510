package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/**
 * Spark listener that attributes every job, task and shuffle to a
 * layer, from outside the engine. The benchmark tags the call it is
 * about to make with the local property [[Ledger.Tag]] (`normalize`,
 * `apply`, `lww`, `catalogue.text`, ...); a job inherits the tag,
 * including the AQE stage jobs that run on pool threads. Inside the
 * `apply` tag the SQL execution's call site — recorded when the
 * execution starts, on the thread that made the call — splits the work
 * into `dlq` (`JdbcApply.writeCorrupt`), `apply.table`
 * (`JdbcApply.applyTable`) and `apply.batch` (the rest of
 * `applyBatch`). A job is tied to its execution through the
 * `spark.sql.execution.id` property, which pool-thread jobs carry too.
 */
final class Ledger private (sc: SparkContext) extends SparkListener {
  import Ledger._

  final class Acc {
    val jobs, cpuNs, shuffleRecords = new AtomicLong
    val shuffleIds: java.util.Set[Int] = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  }
  private val accs = TrieMap.empty[String, Acc]
  private def acc(layer: String): Acc = accs.getOrElseUpdate(layer, new Acc)

  private val execSite = TrieMap.empty[Long, String]
  private val execStart = TrieMap.empty[Long, Long]
  private val stageLayer = TrieMap.empty[Int, String]
  /** Finished SQL executions: (layer, start ms, end ms). */
  private val executions = new ConcurrentLinkedQueue[(String, Long, Long)]()
  private val execLayer = TrieMap.empty[Long, String]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      execSite(s.executionId) = s.details
      execStart(s.executionId) = s.time
    case e: SparkListenerSQLExecutionEnd =>
      for (layer <- execLayer.remove(e.executionId); t0 <- execStart.get(e.executionId))
        executions.add((layer, t0, e.time))
      execSite.remove(e.executionId); execStart.remove(e.executionId); ()
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties)
    val tag = props.flatMap(p => Option(p.getProperty(Tag))).getOrElse("untagged")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val layer = if (tag != "apply") tag else {
      val site = exec.flatMap(execSite.get).getOrElse("")
      if (site.contains("JdbcApply$.writeCorrupt")) "dlq"
      else if (site.contains("JdbcApply$.applyTable")) "apply.table"
      else "apply.batch"
    }
    exec.foreach(e => execLayer.putIfAbsent(e, layer))
    val a = acc(layer)
    a.jobs.incrementAndGet()
    js.stageInfos.foreach { si =>
      stageLayer(si.stageId) = layer
      org.apache.spark.perfbenchshim.StageShim.shuffleDepId(si).foreach(a.shuffleIds.add(_))
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      val a = acc(stageLayer.getOrElse(te.stageId, "untagged"))
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
    }
  }

  /** Drain the listener bus so every finished task is counted. */
  def drain(): Unit = org.apache.spark.sql.graftshim.GraftShims.waitListenerBusEmpty(sc)

  final case class Totals(jobs: Long, cpuNs: Long, shuffleRecords: Long, exchanges: Long) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, cpuNs + o.cpuNs,
      shuffleRecords + o.shuffleRecords, exchanges + o.exchanges)
  }
  val Zero: Totals = Totals(0, 0, 0, 0)
  def totals(layer: String): Totals = accs.get(layer).map(a =>
    Totals(a.jobs.get, a.cpuNs.get, a.shuffleRecords.get, a.shuffleIds.size.toLong)).getOrElse(Zero)
  def layers: Seq[String] = accs.keys.toSeq.sorted
  def executionsList: Seq[(String, Long, Long)] = executions.asScala.toSeq

  def remove(): Unit = sc.removeSparkListener(this)
}

object Ledger {
  val Tag = "perfbench.layer"
  def attach(sc: SparkContext): Ledger = { val l = new Ledger(sc); sc.addSparkListener(l); l }

  /** Run `body` with the calling thread's jobs tagged as `layer`. */
  def tagged[A](sc: SparkContext, layer: String)(body: => A): A = {
    val prev = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, layer)
    try body finally sc.setLocalProperty(Tag, prev)
  }
}
