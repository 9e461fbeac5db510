package graft

import java.sql.DriverManager

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.model.{Cdc, CdcConfig}
import graft.operators.CdcNormalize
import graft.sinks.JdbcApply

/** Seeded model-based pin of the JDBC apply: random change logs cut
  * into random micro-batches and applied with [[JdbcApply.applyBatch]]
  * must leave Derby, the DLQ and the summed [[JdbcApply.ApplyStats]]
  * exactly where a SEQUENTIAL per-event sink leaves them (the
  * reference's per-record loop, IidrCdcSinkTask.java:106-160).
  *
  * The logs mix, over 3 configured tables and 1 unconfigured one:
  * upserts and deletes over a small key range (so last-write-wins
  * collapses rows), corrupt rows (no A_ENTTYP), valid rows with no
  * resolvable PK, and rows for the unconfigured table. Each batch is
  * read from 1-4 input partitions, under tolerance log or all, and its
  * commit fails transiently up to `maxRetries` times (backoff 0).
  * Every (table, key) lives in one Kafka partition and offsets are
  * globally unique, so offset order is the one true order. */
class CdcApplyPropertySpec extends SparkSpec {

  private val tables = Seq("T_A", "T_B", "T_C")
  private val Unconfigured = "T_X"
  private val MaxRetries = 2

  private def utf8(s: String): Array[Byte] = if (s == null) null else s.getBytes("UTF-8")

  /** One wire record; `ent` null leaves out A_ENTTYP (a corrupt row). */
  private def wire(off: Long, part: Int, table: String, ent: String,
      key: String, value: String): Row = {
    val headers = Seq(Row("TableName", utf8(table))) ++
      Option(ent).map(e => Row("A_ENTTYP", utf8(e)))
    Row(utf8(key), utf8(value), headers, s"iidr.CDC.$table", part, off,
      java.sql.Timestamp.valueOf("2026-01-15 10:00:00"))
  }

  private sealed trait Ev { def off: Long; def part: Int }
  private final case class Upsert(off: Long, part: Int, t: String, k: Int, name: String) extends Ev
  private final case class Delete(off: Long, part: Int, t: String, k: Int) extends Ev
  private final case class Corrupt(off: Long, part: Int, t: String, k: Int) extends Ev
  private final case class NoPk(off: Long, part: Int, t: String, delete: Boolean) extends Ev

  private def toWire(e: Ev): Row = e match {
    case Upsert(o, p, t, k, n) => wire(o, p, t, "UP", s"""{"ID":$k}""", s"""{"ID":$k,"NAME":"$n"}""")
    case Delete(o, p, t, k) => wire(o, p, t, "DL", s"""{"ID":$k}""", null)
    case Corrupt(o, p, t, k) => wire(o, p, t, null, s"""{"ID":$k}""", s"""{"ID":$k,"NAME":"bad"}""")
    case NoPk(o, p, t, true) => wire(o, p, t, "DL", """{"OTHER":1}""", null)
    case NoPk(o, p, t, false) => wire(o, p, t, "PT", null, """{"NAME":"orphan"}""")
  }

  /** The sequential sink: rows per configured table, DLQ rows, and the
    * stats a batch reports. */
  private final class Model(tolerance: String) {
    val rows = tables.map(_ -> scala.collection.mutable.Map.empty[Long, String]).toMap
    var dlq = 0L
    var stats = JdbcApply.ApplyStats(0L, 0L, 0L)
    def batch(evs: Seq[Ev]): Unit = {
      var corrupt, unroutable = 0L
      evs.sortBy(_.off).foreach {
        case Upsert(_, _, t, k, n) if rows.contains(t) => rows(t)(k.toLong) = n
        case Delete(_, _, t, k) if rows.contains(t) => rows(t) -= k.toLong
        case _: Corrupt => corrupt += 1
        case NoPk(_, _, t, _) if rows.contains(t) => unroutable += 1
        case _ => () // the unconfigured table: not applied, not counted
      }
      dlq += corrupt
      val warned = if (tolerance == "log") math.min(corrupt, JdbcApply.MaxLoggedCorrupt) else 0L
      stats = JdbcApply.ApplyStats(stats.corruptSkipped + corrupt,
        stats.warningsLogged + warned, stats.unroutableSkipped + unroutable)
    }
  }

  private def derbyRows(db: String, t: String): Map[Long, String] = {
    val conn = DriverManager.getConnection(s"jdbc:derby:memory:$db")
    try {
      val md = conn.getMetaData.getTables(null, null, t, null)
      val exists = try md.next() finally md.close()
      if (!exists) Map.empty
      else {
        val rs = conn.createStatement().executeQuery(s"""SELECT "ID", "NAME" FROM "$t"""")
        val b = Map.newBuilder[Long, String]
        while (rs.next()) b += rs.getLong(1) -> rs.getString(2)
        b.result()
      }
    } finally conn.close()
  }

  test("JDBC apply over random logs, cuts, partitions and transient commit failures ≡ a sequential per-event sink") {
    FlakyJdbc.register()
    val schema = StructType.fromDDL("ID BIGINT, NAME STRING")
    val rnd = new scala.util.Random(20261018L)
    (1 to 4).foreach { trial =>
      val db = s"applyprop$trial"
      val tolerance = if (rnd.nextBoolean()) "log" else "all"
      val cfg = JdbcApply.Config(
        url = s"${FlakyJdbc.Prefix}memory:$db;create=true",
        tableSchemas = tables.map(_ -> schema).toMap,
        keySchemas = tables.map(_ -> StructType.fromDDL("ID BIGINT")).toMap,
        primaryKeys = tables.map(_ -> Seq("ID")).toMap,
        batchSize = 1 + rnd.nextInt(4), errorsTolerance = tolerance,
        maxRetries = MaxRetries, retryBackoffMs = 0L)
      val nKeys = 4 + rnd.nextInt(4)
      val log = (0 until 60 + rnd.nextInt(80)).map { i =>
        val off = i.toLong
        val t = if (rnd.nextInt(8) == 0) Unconfigured else tables(rnd.nextInt(tables.length))
        val k = rnd.nextInt(nKeys)
        // a key's Kafka partition is fixed by (table, key)
        val part = math.abs((t, k).hashCode) % 3
        rnd.nextInt(20) match {
          case 0 | 1 => Corrupt(off, part, t, k)
          case 2 => NoPk(off, part, t, rnd.nextBoolean())
          case 3 | 4 | 5 | 6 => Delete(off, part, t, k)
          case _ => Upsert(off, part, t, k, s"n${trial}_$i")
        }
      }
      val cuts = (0 +: Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(log.length)) :+ log.length)
        .distinct.sorted
      val model = new Model(tolerance)
      var got = JdbcApply.ApplyStats(0L, 0L, 0L)
      cuts.sliding(2).foreach { case Seq(from, until) =>
        val evs = log.slice(from, until)
        val nParts = 1 + rnd.nextInt(4)
        // each Kafka partition's records stay in one input partition
        val slices = (0 until nParts).map(s => evs.filter(_.part % nParts == s).map(toWire))
        val rows = spark.sparkContext.parallelize(0 until nParts, nParts).flatMap(slices(_))
        val failures = rnd.nextInt(MaxRetries + 1)
        FlakyJdbc.reset(failCommits = failures, transientFlavor = true)
        val s = JdbcApply.applyBatch(CdcNormalize(
          spark.createDataFrame(rows, Cdc.kafkaWireSchema), CdcConfig()), cfg)
        got = JdbcApply.ApplyStats(got.corruptSkipped + s.corruptSkipped,
          got.warningsLogged + s.warningsLogged, got.unroutableSkipped + s.unroutableSkipped)
        model.batch(evs)
        val wrote = evs.exists {
          case _: Upsert | _: Delete | _: Corrupt => true
          case _ => false
        }
        if (wrote) assert(FlakyJdbc.commitAttempts.get() == failures + 1,
          s"trial $trial batch [$from, $until): $failures injected failures + 1 success, " +
            s"got ${FlakyJdbc.commitAttempts.get()} commits")
      }
      assert(got == model.stats, s"trial $trial ($tolerance): summed stats")
      tables.foreach { t =>
        assert(derbyRows(db, t) == model.rows(t).toMap, s"trial $trial table $t")
      }
      assert(derbyRows(db, Unconfigured).isEmpty, s"trial $trial: unconfigured rows applied")
      val dlq = {
        val conn = DriverManager.getConnection(s"jdbc:derby:memory:$db")
        try {
          val md = conn.getMetaData.getTables(null, null, "STREAMING_CORRUPT_EVENTS", null)
          if (!(try md.next() finally md.close())) 0L
          else {
            val rs = conn.createStatement().executeQuery(
              """SELECT COUNT(*) FROM "STREAMING_CORRUPT_EVENTS"""")
            rs.next(); rs.getLong(1)
          }
        } finally conn.close()
      }
      assert(dlq == model.dlq, s"trial $trial: DLQ rows")
      info(s"trial $trial: ${log.length} events in ${cuts.length - 1} batches, $tolerance, " +
        s"stats $got, DLQ $dlq")
    }
  }
}
