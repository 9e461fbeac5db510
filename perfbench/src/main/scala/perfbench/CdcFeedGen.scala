package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.feeds.CdcFeed
import graft.model.Cdc

/**
 * Seeded CDC feed for the replication workloads: the engine's own
 * `CdcFeed.wire` (sf0.1 = 100,000 events) over an `events` table that
 * [[DataGen]] writes, derived once per checkout by [[prepare]] and
 * stored as the collected wire records, so a run builds its feed
 * without a Spark job.
 *
 * The seed moves keys and tables, not the feed's shape:
 *  - every record's ID goes through the bijection k → (a·k + b) mod 3000
 *    with (a, b) drawn from the seed, which changes which events share
 *    a key but not how many do;
 *  - `cdc_dirty` routes every record that has a TableName header to one
 *    of the feed's 5 tables by a hash of (seed, offset);
 *  - `cdc_fanout` keeps only the valid records and routes micro-batch i
 *    to a window of `perBatch` tables out of `tables`, taken in a
 *    seeded order.
 *
 * The program under test receives only [[Feed.rows]]; the benchmark
 * reads the same records back into flat [[Event]]s for its sequential
 * reference [[Model]].
 */
object CdcFeedGen {

  val Sf = 0.1
  val KeySpace = 3000L

  /** Valid records over `tables` tables, `perBatch` of them per micro-batch. */
  final case class Fanout(tables: Int, perBatch: Int)

  /** Corrupt reasons, keyed as the benchmark reports them, with the
    * DLQ `error_reason` text each one starts with. */
  val Reasons: Seq[(String, String)] = Seq(
    "missing_table" -> "Missing required header: TableName",
    "missing_entry_type" -> "Missing required header: A_ENTTYP",
    "unknown_entry_type" -> "Unknown entry type: ",
    "delete_no_key" -> "DELETE record has no key",
    "no_value" -> "Record has no value")

  final case class Event(offset: Long, table: String, entryType: String,
      id: Long, hasKey: Boolean, hasValue: Boolean, amount: java.math.BigDecimal) {
    def isDelete: Boolean = entryType != null &&
      Cdc.DeleteEntryTypes.contains(entryType.trim.toUpperCase(java.util.Locale.ROOT))
    /** Which corrupt rule the event trips, in the sink task's check
      * order; None for a valid event. */
    def reason: Option[String] =
      if (table == null) Some("missing_table")
      else if (entryType == null) Some("missing_entry_type")
      else if (!isDelete && !Cdc.UpsertEntryTypes.contains(
          entryType.trim.toUpperCase(java.util.Locale.ROOT))) Some("unknown_entry_type")
      else if (isDelete && !hasKey) Some("delete_no_key")
      else if (!isDelete && !hasValue) Some("no_value")
      else None
  }

  /** Wire records in offset order, the events they carry, and the
    * target tables. */
  final case class Feed(rows: IndexedSeq[Row], events: IndexedSeq[Event], tables: Seq[String]) {
    def wire(from: Int, until: Int): Seq[Row] = rows.slice(from, until)
  }

  val WireSchema: StructType =
    StructType(Cdc.kafkaWireSchema.fields.filterNot(_.name == "timestamp"))

  private val IdField = "\"ID\":(-?\\d+)".r
  private val AmountField = "\"AMOUNT\":(-?[0-9.]+)".r

  private def mix(x: Long): Long = { // splitmix64 finalizer
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def draw(seed: Long, tag: Long, offset: Long, n: Long): Long =
    java.lang.Math.floorMod(mix(mix(seed * 31 + tag) + offset), n)

  /** Write the `events` table under `dir` and the wire records
    * `CdcFeed.wire` derives from it, in offset order, to `wireFile`. */
  def prepare(spark: SparkSession, dir: String, wireFile: String): Unit = {
    DataGen.writeAll(spark, dir, Sf, DataGen.DataSeed, Seq("events"))
    val rows = CdcFeed.wire(spark, dir).collect().sortBy(_.getLong(5))
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(wireFile)))
    def bytes(b: Array[Byte]): Unit =
      if (b == null) out.writeInt(-1) else { out.writeInt(b.length); out.write(b) }
    try {
      out.writeInt(rows.length)
      rows.foreach { r =>
        bytes(r.getAs[Array[Byte]](0))
        bytes(r.getAs[Array[Byte]](1))
        val headers = r.getSeq[Row](2)
        out.writeInt(headers.size)
        headers.foreach { h => out.writeUTF(h.getString(0)); bytes(h.getAs[Array[Byte]](1)) }
        out.writeUTF(r.getString(3))
        out.writeInt(r.getInt(4))
        out.writeLong(r.getLong(5))
      }
    } finally out.close()
  }

  /** The wire records [[prepare]] wrote, in the same order. */
  private def readWire(wireFile: String): IndexedSeq[Row] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(wireFile)))
    def bytes(): Array[Byte] = in.readInt() match {
      case -1 => null
      case n => val b = new Array[Byte](n); in.readFully(b); b
    }
    try IndexedSeq.fill(in.readInt()) {
      Row(bytes(), bytes(), Seq.fill(in.readInt())(Row(in.readUTF(), bytes())),
        in.readUTF(), in.readInt(), in.readLong())
    } finally in.close()
  }

  /**
   * Read the wire records [[prepare]] stored in `wireFile` and apply the
   * seeded keys and tables (for `fanout`, micro-batches of `chunk` valid
   * records).
   */
  def apply(wireFile: String, seed: Long, chunk: Int, fanout: Option[Fanout]): Feed = {
    val collected = readWire(wireFile)
    val rnd = new java.util.Random(seed)
    // a coprime to 3000 = 2^3·3·5^3 makes k → a·k + b a bijection
    val a = Iterator.continually(1 + rnd.nextInt(KeySpace.toInt - 1))
      .find(x => x % 2 != 0 && x % 3 != 0 && x % 5 != 0).get.toLong
    val b = rnd.nextInt(KeySpace.toInt).toLong
    val (kept, tables, route) = fanout match {
      case None =>
        val tables = collected.flatMap(r => Option(event(r).table)).distinct.sorted
        (collected, tables,
          (_: Int, offset: Long) => tables(draw(seed, 2, offset, tables.size).toInt))
      case Some(f) =>
        val tables = new scala.util.Random(rnd)
          .shuffle((0 until f.tables).map(i => f"TEST_T$i%02d"))
        (collected.filter(r => event(r).reason.isEmpty), tables,
          (j: Int, offset: Long) => tables((((j / chunk).toLong * f.perBatch +
            draw(seed, 2, offset, f.perBatch)) % f.tables).toInt))
    }
    def rekey(bytes: Array[Byte]): Array[Byte] =
      if (bytes == null) null
      else IdField.replaceAllIn(new String(bytes, UTF_8),
        m => s""""ID":${(m.group(1).toLong * a + b) % KeySpace}""").getBytes(UTF_8)
    val rows = kept.zipWithIndex.map { case (r, j) =>
      val table = route(j, r.getLong(5)).getBytes(UTF_8)
      val headers = r.getSeq[Row](2).map(h =>
        if (h.getString(0) == Cdc.Headers.TableName) Row(h.getString(0), table) else h)
      Row(rekey(r.getAs[Array[Byte]](0)), rekey(r.getAs[Array[Byte]](1)), headers,
        r.getString(3), r.getInt(4), r.getLong(5))
    }
    Feed(rows, rows.map(event), tables)
  }

  /** Read a wire record back into a flat event. */
  private def event(r: Row): Event = {
    def text(i: Int) = Option(r.getAs[Array[Byte]](i)).map(new String(_, UTF_8))
    val headers = r.getSeq[Row](2)
      .map(h => h.getString(0) -> new String(h.getAs[Array[Byte]](1), UTF_8)).toMap
    val (key, value) = (text(0), text(1))
    val id = key.orElse(value).flatMap(IdField.findFirstMatchIn(_)).fold(-1L)(_.group(1).toLong)
    val amount = value.flatMap(AmountField.findFirstMatchIn(_))
      .map(m => new java.math.BigDecimal(m.group(1))).orNull
    Event(r.getLong(5), headers.get(Cdc.Headers.TableName).orNull,
      headers.get(Cdc.Headers.EntryType).orNull, id, key.isDefined, value.isDefined, amount)
  }

  /** Input properties of a feed prefix, printed before a run. */
  def describe(events: Seq[Event]): String = {
    val n = events.size.toDouble
    val byReason = events.flatMap(_.reason).groupBy(identity).map { case (k, v) => k -> v.size }
    val valid = events.filter(_.reason.isEmpty)
    val keys = valid.map(e => (e.table, e.id)).distinct.size
    val reasons = Reasons.map { case (k, _) => s"$k=${byReason.getOrElse(k, 0)}" }.mkString(" ")
    f"events=${events.size} corrupt=${(n - valid.size) / n * 100}%.2f%% ($reasons) " +
      f"deletes=${events.count(_.isDelete) / n * 100}%.2f%% " +
      s"tables=${events.flatMap(e => Option(e.table)).distinct.size} " +
      s"distinct_table_pk=$keys " +
      f"lww_collapse=${if (keys == 0) 0.0 else valid.size.toDouble / keys}%.2f"
  }

  /** Sequential reference model of the sink: valid events applied one
    * by one in offset order (last write wins, a delete removes the
    * row), corrupt events counted by reason. */
  final class Model {
    val rows = scala.collection.mutable.Map.empty[(String, Long), java.math.BigDecimal]
    val dlq = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    def apply(events: Seq[Event]): Unit = events.foreach { e =>
      e.reason match {
        case Some(r) => dlq(r) += 1
        case None =>
          if (e.isDelete) rows.remove((e.table, e.id))
          else rows((e.table, e.id)) = e.amount
      }
    }
  }
}
