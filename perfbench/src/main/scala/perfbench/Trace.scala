package perfbench

import scala.collection.mutable.ArrayBuffer

/**
 * In-memory spans recorded by the benchmark around its calls into each
 * layer (batch → normalize → apply → dlq / table writes), written out
 * once the run ends. A span's self time is its duration minus the part
 * of it that its children cover.
 */
final class Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  private val spans = ArrayBuffer.empty[Span]
  private var open = List(0) // stack of open span ids; 0 is the root

  /** Wall clock → nanoTime offset, to place Spark's millisecond
    * execution events on the same axis as the spans. */
  private val nanoMinusMillis = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private var lastId = 0
  private def nextId(): Int = { lastId += 1; lastId }

  def span[A](name: String)(body: => A): A = {
    val id = nextId()
    val parent = open.head
    open = id :: open
    val t0 = System.nanoTime()
    try body finally {
      open = open.tail
      spans += Span(id, parent, name, t0, System.nanoTime())
    }
  }

  /** Add a finished child span given in wall-clock milliseconds. */
  private def addMillis(parent: Int, name: String, startMs: Long, endMs: Long): Unit =
    spans += Span(nextId(), parent, name,
      startMs * 1000000L + nanoMinusMillis, endMs * 1000000L + nanoMinusMillis)

  /** Attach each execution to the innermost span named `under` that
    * contains its start. */
  def attach(under: String, execs: Seq[(String, Long, Long)]): Unit = {
    val hosts = spans.filter(_.name == under).toSeq
    execs.foreach { case (layer, s, e) =>
      val sNs = s * 1000000L + nanoMinusMillis
      hosts.find(h => sNs >= h.startNs - 1000000L && sNs <= h.endNs)
        .foreach(h => addMillis(h.id, layer, s, e))
    }
  }

  private def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    (s.endNs - s.startNs) - covered
  }

  /** Per span name: count, total ms, total self ms. */
  def summary: Seq[(String, Int, Double, Double)] =
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      (n, ss.size, ss.map(_.ms).sum, ss.map(selfNs).sum / 1e6)
    }

  def write(path: String): Unit = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val lines = spans.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"dur_ms":${s.ms}%.3f,""" +
        f""""self_ms":${selfNs(s) / 1e6}%.3f}"""
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}
