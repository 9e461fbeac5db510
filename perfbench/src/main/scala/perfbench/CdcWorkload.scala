package perfbench

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

import graft.model.{Cdc, CdcConfig}
import graft.operators.{CdcNormalize, CdcOps}
import graft.sinks.{GenericDialect, JdbcApply}
import graft.streaming.CdcStream

/** A replication workload: its feed shape and micro-batch size. */
final case class CdcSpec(name: String, fanout: Option[CdcFeedGen.Fanout], chunk: Int)

/**
 * The replication workloads: wire records → `CdcStream` (normalize,
 * DLQ split, last-write-wins, JDBC upsert/delete) → embedded Derby.
 *
 * Closed loop, one micro-batch in flight: chunk i of the feed is
 * offered to the stream's `MemoryStream` source only after epoch i-1
 * committed, so the micro-batch cuts — and every per-batch count — are
 * the same on every run. A batch's latency runs from offering its chunk
 * to the return of `processAllAvailable`, which waits for the epoch's
 * commit.
 */
object CdcWorkload {
  val Dirty: CdcSpec = CdcSpec("cdc_dirty", None, 2000)
  val Fanout: CdcSpec = CdcSpec("cdc_fanout", Some(CdcFeedGen.Fanout(64, 8)), 96)

  val CorruptTable = "streaming_corrupt_events"
  val ValueSchema: StructType = StructType(Seq(
    StructField("ID", LongType), StructField("AMOUNT", DecimalType(12, 2))))
  val KeySchema: StructType = StructType(Seq(StructField("ID", LongType)))

  val cdcConfig: CdcConfig = CdcConfig(errorsTolerance = "log")

  def sinkConfig(url: String, tables: Seq[String]): JdbcApply.Config =
    JdbcApply.Config(url = url,
      tableSchemas = tables.map(_ -> ValueSchema).toMap,
      keySchemas = tables.map(_ -> KeySchema).toMap,
      primaryKeys = tables.map(_ -> Seq("ID")).toMap,
      errorsTolerance = "log", corruptTable = CorruptTable)

  /** A fresh in-memory Derby database. The stream and the untraced
    * calls reach it by its Derby URL, traced calls through the counting
    * driver's URL. */
  final class Db(name: String, tables: Seq[String]) {
    val url: String = s"jdbc:derby:memory:$name;create=true"
    val countedUrl: String = s"${CountingJdbc.Prefix}memory:$name;create=true"
    private def withConn[A](f: java.sql.Connection => A): A = {
      val c = DriverManager.getConnection(url)
      try f(c) finally c.close()
    }
    def query[A](sql: String)(row: java.sql.ResultSet => A): Seq[A] = withConn { c =>
      val rs = c.createStatement().executeQuery(sql)
      val b = Seq.newBuilder[A]
      while (rs.next()) b += row(rs)
      b.result()
    }
    // The target tables exist before the stream starts, as in a
    // deployment; the DDL is the sink's own auto-create statement, so
    // the sink finds exactly the table it would have created.
    withConn { c =>
      val st = c.createStatement()
      try tables.foreach(t =>
        st.executeUpdate(GenericDialect.createTableSql(t, ValueSchema, Seq("ID"))))
      finally st.close()
    }

    def tableNames: Set[String] = withConn { c =>
      val rs = c.getMetaData.getTables(null, "APP", null, Array("TABLE"))
      val b = Set.newBuilder[String]
      while (rs.next()) b += rs.getString("TABLE_NAME")
      b.result()
    }
    /** Drop the database; Derby signals success with SQLState 08006. */
    def drop(): Unit =
      try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true").close()
      catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
  }

  private var dbSeq = 0
  /** A new database holding the feed's target tables, empty. */
  def freshDb(feed: CdcFeedGen.Feed): Db =
    synchronized { dbSeq += 1; new Db(s"perfbench_$dbSeq", feed.tables) }

  final case class Pass(latenciesMs: IndexedSeq[Double], batches: Int, failed: Int,
      wallS: Double)

  /**
   * The stream shell under test: `CdcStream.start` over a
   * `MemoryStream`, fed one chunk per epoch. Chunks are offered in feed
   * order, so chunk i of the feed is always micro-batch i.
   */
  final class Shell(spark: SparkSession, feed: CdcFeedGen.Feed, spec: CdcSpec, val db: Db,
      checkpoint: String) {
    private implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(CdcFeedGen.WireSchema)
    private val mem = MemoryStream[Row](enc, spark)
    private val query = CdcStream.start(mem.toDF(), cdcConfig,
      sinkConfig(db.url, feed.tables), checkpoint, 0L)
    /** Chunks offered so far, committed or not. */
    var offered = 0
    def events: Int = offered * spec.chunk
    def hasNext: Boolean = (offered + 1) * spec.chunk <= feed.rows.size

    /** Offer the next chunk and wait for its epoch to commit; the
      * latency in ms, or None when the epoch failed. */
    def next(): Option[Double] = {
      val rows = feed.wire(offered * spec.chunk, (offered + 1) * spec.chunk)
      offered += 1
      val t0 = System.nanoTime()
      mem.addData(rows)
      try { query.processAllAvailable(); Some((System.nanoTime() - t0) / 1e6) }
      catch { case e: Exception =>
        System.err.println(s"[perfbench] ${spec.name} batch ${offered - 1} failed: $e"); None
      }
    }

    /** Offer chunks until `seconds` have passed (at least `min`, at
      * most `max`), stopping at the first failed epoch. */
    def run(seconds: Double, min: Int, max: Int): Pass = {
      val lat = IndexedSeq.newBuilder[Double]
      var done, failed = 0
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (done < max && failed == 0 && (done < min || elapsed < seconds) && hasNext)
        next() match {
          case Some(ms) => lat += ms; done += 1
          case None => failed += 1
        }
      Pass(lat.result(), done, failed, elapsed)
    }

    /** Progress of the epochs that carried data. */
    def progress: Seq[StreamingQueryProgress] =
      query.recentProgress.toSeq.filter(_.numInputRows > 0)

    def stop(): Unit = query.stop()
  }

  /** Spans and counters of a traced pass. */
  final class Probe(val trace: Trace) {
    var rowsIn, corruptRows, lwwIn, lwwOut, dlqRows, unroutable, tableCount = 0L
    val corrupt = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val normalizeMs, applyMs = IndexedSeq.newBuilder[Double]
  }

  /**
   * Drive chunk `i` through `CdcNormalize` and then
   * `JdbcApply.applyBatch` directly — the stream shell's body without
   * the shell — so each call can be timed and tagged. With a probe the
   * normalized batch is materialized first (its own span), its corrupt
   * rows are counted by reason, and its last-write-wins collapse is
   * probed with `CdcOps.lastWriteWins`; without one the call does
   * exactly what the shell's `foreachBatch` does. Returns the batch's
   * latency in ms, or None when it failed.
   */
  def direct(spark: SparkSession, feed: CdcFeedGen.Feed, spec: CdcSpec, db: Db,
      i: Int, probe: Option[Probe]): Option[Double] = {
    val cfg = sinkConfig(if (probe.isEmpty) db.url else db.countedUrl, feed.tables)
    val sc = spark.sparkContext
    val wire = spark.createDataFrame(
      java.util.Arrays.asList(feed.wire(i * spec.chunk, (i + 1) * spec.chunk): _*),
      CdcFeedGen.WireSchema)
    val t0 = System.nanoTime()
    try {
      probe match {
        case None => JdbcApply.applyBatch(CdcNormalize(wire, cdcConfig), cfg)
        case Some(p) =>
          p.trace.span("batch") {
            val n0 = System.nanoTime()
            val norm = p.trace.span("normalize") {
              Ledger.tagged(sc, "normalize") {
                val n = CdcNormalize(wire, cdcConfig).persist()
                p.rowsIn += n.count()
                n
              }
            }
            p.normalizeMs += (System.nanoTime() - n0) / 1e6
            p.trace.span("probe") {
              Ledger.tagged(sc, "probe") { probeCorrupt(norm, p) }
              Ledger.tagged(sc, "lww") { probeLww(norm, p) }
            }
            CountingJdbc.counters.tables.clear()
            val a0 = System.nanoTime()
            val stats = p.trace.span("apply") {
              Ledger.tagged(sc, "apply") { JdbcApply.applyBatch(norm, cfg) }
            }
            p.applyMs += (System.nanoTime() - a0) / 1e6
            p.dlqRows += stats.corruptSkipped
            p.unroutable += stats.unroutableSkipped
            p.tableCount += CountingJdbc.counters.tables.size
            norm.unpersist()
          }
      }
      Some((System.nanoTime() - t0) / 1e6)
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] ${spec.name} direct batch $i failed: $e"); None
    }
  }

  private def probeCorrupt(norm: DataFrame, p: Probe): Unit =
    norm.filter(col(Cdc.Cols.CorruptReason).isNotNull)
      .groupBy(Cdc.Cols.CorruptReason).count().collect().foreach { r =>
        val reason = CdcFeedGen.Reasons.find { case (_, text) => r.getString(0).startsWith(text) }
          .map(_._1).getOrElse("other")
        p.corrupt(reason) += r.getLong(1)
        p.corruptRows += r.getLong(1)
      }

  /** The batch's last-write-wins collapse on (table, ID), ordered by
    * offset — the keying `JdbcApply` uses for this feed. */
  private def probeLww(norm: DataFrame, p: Probe): Unit = {
    val keyed = norm.filter(col(Cdc.Cols.CorruptReason).isNull)
      .withColumn("__pk", coalesce(get_json_object(col(Cdc.Cols.ValueJson), "$.ID"),
        get_json_object(col(Cdc.Cols.KeyJson), "$.ID")).cast("long"))
    p.lwwIn += keyed.count()
    p.lwwOut += CdcOps.lastWriteWins(keyed, Cdc.Cols.TargetTable, Seq("__pk"), "offset").count()
  }

  /** Compare Derby's terminal state with the sequential model over the
    * first `events` events; returns the mismatches found. `corrupt`
    * perturbs the model first, to show the check can fail. */
  def check(feed: CdcFeedGen.Feed, events: Int, db: Db, corrupt: Boolean = false): Seq[String] = {
    val model = new CdcFeedGen.Model
    model(feed.events.take(events))
    if (corrupt) model.rows.headOption.foreach { case (k, v) =>
      model.rows(k) = v.add(java.math.BigDecimal.ONE) }
    val present = db.tableNames
    val tableIssues = feed.tables.flatMap { t =>
      val expected = model.rows.collect { case ((tt, id), v) if tt == t => id -> v }.toMap
      val actual =
        if (!present.contains(t)) Map.empty[Long, java.math.BigDecimal]
        else db.query(s"""SELECT "ID", "AMOUNT" FROM "$t"""")(rs =>
          rs.getLong(1) -> rs.getBigDecimal(2)).toMap
      val diff = (expected.keySet ++ actual.keySet).count(k =>
        expected.get(k).map(_.stripTrailingZeros) != actual.get(k).map(_.stripTrailingZeros))
      if (diff == 0) None else Some(s"$t: $diff of ${expected.size} rows differ")
    }
    val dlqTable = CorruptTable.toUpperCase(java.util.Locale.ROOT)
    val dlq: Map[String, Long] =
      if (!present.contains(dlqTable)) Map.empty
      else db.query(s"""SELECT "error_reason", COUNT(*) FROM "$dlqTable"
          GROUP BY "error_reason"""")(rs => rs.getString(1) -> rs.getLong(2))
        .groupMapReduce { case (reason, _) =>
          CdcFeedGen.Reasons.find { case (_, text) => reason.startsWith(text) }
            .map(_._1).getOrElse(reason)
        }(_._2)(_ + _)
    val dlqIssues = (model.dlq.keySet ++ dlq.keySet).toSeq.sorted.flatMap { r =>
      val (e, a) = (model.dlq(r), dlq.getOrElse(r, 0L))
      if (e == a) None else Some(s"dlq $r: expected $e, found $a")
    }
    tableIssues ++ dlqIssues
  }
}
