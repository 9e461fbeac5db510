package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DatabaseMetaData, Driver, DriverManager, DriverPropertyInfo, PreparedStatement, SQLException, Statement}
import java.util.concurrent.atomic.AtomicLong

/**
 * Counting JDBC driver for the benchmark URL prefix `jdbc:perfbench:`:
 * `jdbc:perfbench:<rest>` opens `jdbc:derby:<rest>` and wraps the
 * connection, its statements and its metadata in dynamic proxies that
 * count what the sink does at the JDBC edge — connections, statements
 * by kind, `executeBatch` calls and the rows they carry, metadata
 * calls, commits, rollbacks, transient failures — and the time spent
 * inside every call. `getMetaData` delegates, so the sink still picks
 * the Derby (generic) dialect by product name.
 *
 * Counters are JVM-wide: in `local[n]` mode the executor threads that
 * write partitions share the driver's JVM.
 */
object CountingJdbc {
  val Prefix = "jdbc:perfbench:"

  /** Statement kinds; the DLQ kinds are statements on the corrupt-event table. */
  val Kinds: Seq[String] = Seq("dlq_delete", "dlq_insert", "merge", "update",
    "insert", "delete", "ddl", "query", "other")

  final class Counters {
    val connections, metadataCalls, commits, rollbacks, transientFailures,
      nanos, dlqNanos = new AtomicLong
    val batchCalls, batchRows, singleUpdates = Kinds.map(_ -> new AtomicLong).toMap
    val tables = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def snapshot: Snapshot = Snapshot(connections.get, metadataCalls.get,
      commits.get, rollbacks.get, transientFailures.get, nanos.get, dlqNanos.get,
      batchCalls.map { case (k, v) => k -> v.get }, batchRows.map { case (k, v) => k -> v.get },
      singleUpdates.map { case (k, v) => k -> v.get })
  }

  final case class Snapshot(connections: Long, metadataCalls: Long,
      commits: Long, rollbacks: Long, transientFailures: Long, nanos: Long,
      dlqNanos: Long, batchCalls: Map[String, Long], batchRows: Map[String, Long],
      singleUpdates: Map[String, Long]) {
    def -(o: Snapshot): Snapshot = Snapshot(connections - o.connections,
      metadataCalls - o.metadataCalls, commits - o.commits, rollbacks - o.rollbacks,
      transientFailures - o.transientFailures, nanos - o.nanos, dlqNanos - o.dlqNanos,
      batchCalls.map { case (k, v) => k -> (v - o.batchCalls(k)) },
      batchRows.map { case (k, v) => k -> (v - o.batchRows(k)) },
      singleUpdates.map { case (k, v) => k -> (v - o.singleUpdates(k)) })
    /** Statements executed on the wire: batches plus single updates. */
    def statements(kinds: String*): Long =
      kinds.map(k => batchCalls(k) + singleUpdates(k)).sum
    /** Rows carried: batched rows plus single updates. */
    def rows(kinds: String*): Long = kinds.map(k => batchRows(k) + singleUpdates(k)).sum
  }

  val counters = new Counters

  private var dlqTable = "STREAMING_CORRUPT_EVENTS"

  /** Register the driver once per JVM; `corruptTable` names the DLQ. */
  def register(corruptTable: String): Unit = synchronized {
    dlqTable = corruptTable.toUpperCase(java.util.Locale.ROOT)
    if (!registered) { DriverManager.registerDriver(new CountingDriver); registered = true }
  }
  private var registered = false

  private[perfbench] def kindOf(sql: String): String = {
    val s = sql.trim.toUpperCase(java.util.Locale.ROOT)
    val verb = s.takeWhile(!_.isWhitespace)
    val dlq = s.contains("\"" + dlqTable + "\"")
    verb match {
      case "DELETE" => if (dlq) "dlq_delete" else "delete"
      case "INSERT" => if (dlq) "dlq_insert" else "insert"
      case "MERGE"  => "merge"
      case "UPDATE" => "update"
      case "CREATE" | "ALTER" | "DROP" => "ddl"
      case "SELECT" | "VALUES" => "query"
      case _ => "other"
    }
  }

  /** First quoted identifier of a DML statement: its target table. */
  private def tableOf(sql: String): Option[String] = {
    val i = sql.indexOf('"')
    if (i < 0) None else Some(sql.substring(i + 1, sql.indexOf('"', i + 1)))
  }

  private def isTransient(e: Throwable): Boolean = e match {
    case s: SQLException =>
      s.isInstanceOf[java.sql.SQLTransientException] ||
        s.isInstanceOf[java.sql.SQLRecoverableException] ||
        Option(s.getSQLState).exists(st => st.startsWith("08") || st == "40001")
    case _ => false
  }

  /** Proxy handler shared by every wrapped object: times each call,
    * counts transient failures, and counts the call by method name. */
  private class Handler(target: AnyRef, sql: Option[String], dlq: Boolean)
      extends InvocationHandler {
    private val kind = sql.map(kindOf).getOrElse("other")
    sql.filter(_ => kind != "ddl" && !dlq).flatMap(tableOf).foreach(counters.tables.add)
    private var pending = 0L // rows added since the last executeBatch
    def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
      val name = m.getName
      val t0 = System.nanoTime()
      val out = try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
      catch {
        case e: InvocationTargetException =>
          if (isTransient(e.getCause)) counters.transientFailures.incrementAndGet()
          throw e.getCause
      } finally {
        val dt = System.nanoTime() - t0
        counters.nanos.addAndGet(dt)
        if (dlq) counters.dlqNanos.addAndGet(dt)
      }
      target match {
        case _: DatabaseMetaData => counters.metadataCalls.incrementAndGet()
        case _ => ()
      }
      name match {
        case "addBatch" if args == null || args.isEmpty => pending += 1
        case "executeBatch" =>
          counters.batchCalls(kind).incrementAndGet()
          counters.batchRows(kind).addAndGet(pending); pending = 0
        case "executeUpdate" | "execute" =>
          val k = if (args != null && args.nonEmpty) kindOf(args(0).toString) else kind
          counters.singleUpdates(k).incrementAndGet()
        case "commit" => counters.commits.incrementAndGet()
        case "rollback" => counters.rollbacks.incrementAndGet()
        case _ => ()
      }
      (name, out) match {
        case ("prepareStatement", ps: PreparedStatement) =>
          val q = args(0).toString
          wrap(ps, classOf[PreparedStatement], Some(q),
            q.toUpperCase(java.util.Locale.ROOT).contains("\"" + dlqTable + "\""))
        case ("createStatement", st: Statement) => wrap(st, classOf[Statement], None, false)
        case ("getMetaData", md: DatabaseMetaData) => wrap(md, classOf[DatabaseMetaData], None, false)
        case _ => out
      }
    }
  }

  private def wrap[T](target: AnyRef, iface: Class[T], sql: Option[String], dlq: Boolean): AnyRef =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new Handler(target, sql, dlq))

  private class CountingDriver extends Driver {
    def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)
    def connect(url: String, info: java.util.Properties): Connection =
      if (!acceptsURL(url)) null
      else {
        val real = DriverManager.getConnection("jdbc:derby:" + url.stripPrefix(Prefix), info)
        counters.connections.incrementAndGet()
        wrap(real, classOf[Connection], None, false).asInstanceOf[Connection]
      }
    def getPropertyInfo(url: String, info: java.util.Properties): Array[DriverPropertyInfo] =
      Array.empty
    def getMajorVersion: Int = 1
    def getMinorVersion: Int = 0
    def jdbcCompliant(): Boolean = false
    def getParentLogger: java.util.logging.Logger =
      java.util.logging.Logger.getLogger("perfbench")
  }
}
