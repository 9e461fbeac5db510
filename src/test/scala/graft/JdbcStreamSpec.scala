package graft

import java.sql.DriverManager

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

import graft.model.{Cdc, CdcConfig}
import graft.operators.CdcNormalize
import graft.sinks.JdbcApply
import graft.streaming.CdcStream

/**
 * End-to-end integration: the canonical 5-event fixture (+1 corrupt)
 * through the streaming shell into embedded Derby, asserting the
 * reference e2e suite's terminal DB state (Makefile.iidr:354-372) and
 * the DLQ row — both for batch apply and for MemoryStream streaming.
 */
class JdbcStreamSpec extends SparkSpec {

  private def utf8(s: String): Array[Byte] =
    if (s == null) null else s.getBytes("UTF-8")

  private def wireRow(off: Long, ent: String, key: String, value: String,
      table: String = "TEST_ORDERS"): Row = {
    val headers = Seq(
      Option(table).map(t => Row("TableName", utf8(t))),
      Option(ent).map(e => Row("A_ENTTYP", utf8(e))),
      Some(Row("A_TIMSTAMP", utf8("2026-01-15 10:00:00.000000000000")))).flatten
    Row(utf8(key), utf8(value), headers, "iidr.CDC.TEST_ORDERS", 0, off,
      java.sql.Timestamp.valueOf("2026-01-15 10:00:00"))
  }

  private val fixture = Seq(
    wireRow(0, "PT", """{"ID":1}""",
      """{"ID":1,"ORDER_NAME":"Order-001","AMOUNT":100.50,"STATUS":"NEW"}"""),
    wireRow(1, "PT", """{"ID":2}""",
      """{"ID":2,"ORDER_NAME":"Order-002","AMOUNT":200.75,"STATUS":"NEW"}"""),
    wireRow(2, "PT", """{"ID":3}""",
      """{"ID":3,"ORDER_NAME":"Order-003","AMOUNT":350.00,"STATUS":"PENDING"}"""),
    wireRow(3, "UP", """{"ID":2}""",
      """{"ID":2,"ORDER_NAME":"Order-002-Updated","AMOUNT":250.00,"STATUS":"PROCESSING"}"""),
    wireRow(4, "DL", """{"ID":3}""", null),
    wireRow(5, null, """{"ID":9}""", """{"ID":9}""")) // corrupt

  /** Three valid rows with no resolvable PK (no key, no ID in the
    * value) over two tables, beside one routable row per table. */
  private val unroutableRows = Seq(
    wireRow(0, "PT", """{"ID":1}""",
      """{"ID":1,"ORDER_NAME":"ok","AMOUNT":1.0,"STATUS":"NEW"}"""),
    // valid upsert, but no key and no ID in the value → unroutable
    wireRow(1, "PT", null,
      """{"ORDER_NAME":"orphan","AMOUNT":2.0,"STATUS":"NEW"}"""),
    // a second table in the same batch: two orphans (counted one by
    // one, never collapsed on their null key) beside a routable row
    wireRow(2, "PT", """{"ID":7}""",
      """{"ID":7,"ORDER_NAME":"ship","AMOUNT":3.0,"STATUS":"NEW"}""",
      "TEST_SHIPMENTS"),
    wireRow(3, "PT", null,
      """{"ORDER_NAME":"orphan2","AMOUNT":4.0,"STATUS":"NEW"}""", "TEST_SHIPMENTS"),
    wireRow(4, "PT", null,
      """{"ORDER_NAME":"orphan3","AMOUNT":5.0,"STATUS":"NEW"}""", "TEST_SHIPMENTS"))

  private val orderSchema = StructType.fromDDL(
    "ID BIGINT, ORDER_NAME STRING, AMOUNT DOUBLE, STATUS STRING")

  private def sinkCfg(db: String) = JdbcApply.Config(
    url = s"jdbc:derby:memory:$db;create=true",
    tableSchemas = Map("TEST_ORDERS" -> orderSchema),
    keySchemas = Map("TEST_ORDERS" -> StructType.fromDDL("ID BIGINT")),
    primaryKeys = Map("TEST_ORDERS" -> Seq("ID")),
    batchSize = 2, // force multiple executeBatch flushes
    errorsTolerance = "log")

  /** TEST_ORDERS and TEST_SHIPMENTS, both with the orders schema. */
  private def twoTableCfg(db: String) = sinkCfg(db).copy(
    tableSchemas = Map("TEST_ORDERS" -> orderSchema, "TEST_SHIPMENTS" -> orderSchema),
    keySchemas = Map("TEST_ORDERS" -> StructType.fromDDL("ID BIGINT"),
      "TEST_SHIPMENTS" -> StructType.fromDDL("ID BIGINT")),
    primaryKeys = Map("TEST_ORDERS" -> Seq("ID"), "TEST_SHIPMENTS" -> Seq("ID")))

  private def idsOf(url: String, table: String): Seq[Long] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        s"""SELECT "ID" FROM "$table" ORDER BY "ID"""")
      val b = Seq.newBuilder[Long]
      while (rs.next()) b += rs.getLong(1)
      b.result()
    } finally conn.close()
  }

  private def queryAll(url: String): Seq[(Long, String, Double, String)] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT "ID", "ORDER_NAME", "AMOUNT", "STATUS" FROM "TEST_ORDERS" ORDER BY "ID"""")
      val b = Seq.newBuilder[(Long, String, Double, String)]
      while (rs.next())
        b += ((rs.getLong(1), rs.getString(2), rs.getDouble(3), rs.getString(4)))
      b.result()
    } finally conn.close()
  }

  private def dlqCount(url: String): Int = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT COUNT(*) FROM "STREAMING_CORRUPT_EVENTS"""")
      rs.next(); rs.getInt(1)
    } finally conn.close()
  }

  private def tableExists(url: String, table: String): Boolean = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, table, null)
      try rs.next() finally rs.close()
    } finally conn.close()
  }

  private def assertTerminal(url: String): Unit = {
    val rows = queryAll(url)
    assert(rows == Seq(
      (1L, "Order-001", 100.50, "NEW"),
      (2L, "Order-002-Updated", 250.00, "PROCESSING")))
    assert(dlqCount(url) == 1)
  }

  test("batch apply reaches reference terminal state in Derby (upsert/delete/DLQ)") {
    val db = "batchdb"
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(fixture), Cdc.kafkaWireSchema)
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), sinkCfg(db))
    assertTerminal(s"jdbc:derby:memory:$db")
  }

  test("batch apply is idempotent under replay (effectively-once)") {
    val db = "replaydb"
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(fixture), Cdc.kafkaWireSchema)
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), sinkCfg(db))
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), sinkCfg(db)) // replay
    val rows = queryAll(s"jdbc:derby:memory:$db")
    assert(rows.map(_._1) == Seq(1L, 2L))

    // A batch the caller cached stays cached: the apply reads that
    // cache and leaves it to the caller to drop.
    val cachedDb = "replaycacheddb"
    val cached = CdcNormalize(wire, CdcConfig()).persist()
    JdbcApply.applyBatch(cached, sinkCfg(cachedDb))
    JdbcApply.applyBatch(cached, sinkCfg(cachedDb)) // replay
    assert(cached.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "applyBatch must not unpersist a frame its caller cached")
    assertTerminal(s"jdbc:derby:memory:$cachedDb")
    cached.unpersist()

    // The write runs on one task with no exchange: last-write-wins must
    // still keep each key's highest offset when the input partitions
    // interleave it. IDs 1-3 are written in every
    // slice; ID 1 ends deleted, ID 2 updated, ID 3 deleted then
    // re-inserted. Slices hold the offsets newest-first, so iteration
    // order is never offset order.
    val lwwDb = "replaylwwdb"
    def order(id: Int, off: Int) = wireRow(off, if (off == 0) "PT" else "UP",
      s"""{"ID":$id}""",
      s"""{"ID":$id,"ORDER_NAME":"o$id-$off","AMOUNT":$off.0,"STATUS":"S$off"}""")
    val events = (0 until 8).flatMap(s => (1 to 3).map(id => order(id, 3 * s + id - 1))) ++
      Seq(wireRow(24, "DL", """{"ID":1}""", null), wireRow(12, "DL", """{"ID":3}""", null))
    val byOffset = events.sortBy(_.getLong(5))
    val lwwWire = spark.createDataFrame(
      spark.sparkContext.parallelize(byOffset.reverse, 4), Cdc.kafkaWireSchema)
    val lwwCfg = sinkCfg(lwwDb)
    // offset-order apply: the reference's sequential fold over the poll
    val model = byOffset.foldLeft(Map.empty[Long, (Long, String, Double, String)]) { (m, r) =>
      val id = new String(r.getAs[Array[Byte]](0), "UTF-8").filter(_.isDigit).toLong
      if (r.isNullAt(1)) m - id
      else m + (id -> (id, s"o$id-${r.getLong(5)}", r.getLong(5).toDouble, s"S${r.getLong(5)}"))
    }.values.toSeq.sortBy(_._1)
    assert(model.map(_._1) == Seq(2L, 3L))
    JdbcApply.applyBatch(CdcNormalize(lwwWire, CdcConfig()), lwwCfg)
    assert(queryAll(s"jdbc:derby:memory:$lwwDb") == model)
    JdbcApply.applyBatch(CdcNormalize(lwwWire, CdcConfig()), lwwCfg) // replay
    assert(queryAll(s"jdbc:derby:memory:$lwwDb") == model)
  }

  test("DLQ writes are replay-idempotent (keyed by topic/partition/offset)") {
    // foreachBatch is at-least-once: a redelivered batch must REPLACE
    // its own corrupt rows (delete-then-insert by Kafka coordinates),
    // not append duplicates — the terminal DLQ count after a replay is
    // the same 1 row, where a blind append (the reference's own
    // CorruptEventWriter behavior) would leave 2.
    val db = "dlqreplaydb"
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(fixture), Cdc.kafkaWireSchema)
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), sinkCfg(db))
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), sinkCfg(db)) // replay
    assertTerminal(s"jdbc:derby:memory:$db") // asserts DLQ count == 1
  }

  test("PK riding only the record key routes, binds, and deletes correctly") {
    // compacted-topic shape: value payloads never repeat the PK — the
    // value schema has no ID column at all; the key supplies it. The
    // apply must append the PK column to the DDL and bind it from the
    // routing values (it previously inserted NULL from the value
    // struct, or failed analysis on the missing struct field).
    val db = "keyonlydb"
    val rows = Seq(
      wireRow(0, "PT", """{"ID":1}""",
        """{"ORDER_NAME":"A","AMOUNT":1.5,"STATUS":"NEW"}"""),
      wireRow(1, "PT", """{"ID":2}""",
        """{"ORDER_NAME":"B","AMOUNT":2.5,"STATUS":"NEW"}"""),
      wireRow(2, "UP", """{"ID":1}""",
        """{"ORDER_NAME":"A2","AMOUNT":9.0,"STATUS":"DONE"}"""),
      wireRow(3, "DL", """{"ID":2}""", null))
    val cfg = sinkCfg(db).copy(
      tableSchemas = Map("TEST_ORDERS" -> StructType.fromDDL(
        "ORDER_NAME STRING, AMOUNT DOUBLE, STATUS STRING")))
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Cdc.kafkaWireSchema)
    val stats = JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), cfg)
    assert(stats.unroutableSkipped == 0)
    val conn = DriverManager.getConnection(s"jdbc:derby:memory:$db")
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT "ID", "ORDER_NAME" FROM "TEST_ORDERS" ORDER BY "ID"""")
      val got = Seq.newBuilder[(Long, String)]
      while (rs.next()) got += ((rs.getLong(1), rs.getString(2)))
      assert(got.result() == Seq((1L, "A2")),
        "key-only PK must upsert under its key id and delete id 2")
    } finally conn.close()
  }

  test("rows with no resolvable PK are counted and skipped, not applied or lost silently") {
    val db = "unroutabledb"
    val rows = unroutableRows
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Cdc.kafkaWireSchema)
    val stats = JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), twoTableCfg(db))
    assert(stats.unroutableSkipped == 3, s"stats=$stats")
    assert(queryAll(s"jdbc:derby:memory:$db").map(_._1) == Seq(1L))
    assert(idsOf(s"jdbc:derby:memory:$db", "TEST_SHIPMENTS") == Seq(7L))
    // a batch whose valid rows are ALL unroutable still reports them
    // (the write plan runs with nothing left to write)
    val orphans = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(rows(1), rows(3))), Cdc.kafkaWireSchema)
    val stats2 = JdbcApply.applyBatch(CdcNormalize(orphans, CdcConfig()), twoTableCfg(db))
    assert(stats2.unroutableSkipped == 2, s"stats=$stats2")
  }

  test("errors.tolerance=none throws after writing the DLQ") {
    val db = "strictdb"
    val url = s"jdbc:derby:memory:$db"
    val cfg = sinkCfg(db).copy(errorsTolerance = "none")
    // an earlier clean batch creates the target table, so the dirty
    // batch's data rows would have somewhere to land
    val seed = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      wireRow(100, "PT", """{"ID":7}""",
        """{"ID":7,"ORDER_NAME":"seed","AMOUNT":7.0,"STATUS":"NEW"}"""))),
      Cdc.kafkaWireSchema)
    JdbcApply.applyBatch(CdcNormalize(seed, CdcConfig()), cfg)
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(fixture), Cdc.kafkaWireSchema)
    val e = intercept[IllegalStateException] {
      JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), cfg)
    }
    assert(e.getMessage.contains("corrupt"))
    assert(dlqCount(url) == 1) // DLQ written before the throw
    assert(queryAll(url) == Seq((7L, "seed", 7.0, "NEW")),
      "no data row of the failed batch may reach the target table")
  }

  test("errors.tolerance: log warns and continues, all skips silently, same DB state") {
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(fixture), Cdc.kafkaWireSchema)
    val statsLog = JdbcApply.applyBatch(
      CdcNormalize(wire, CdcConfig()), sinkCfg("tollogdb")) // log (sinkCfg default)
    assert(statsLog == JdbcApply.ApplyStats(corruptSkipped = 1, warningsLogged = 1))
    val statsAll = JdbcApply.applyBatch(
      CdcNormalize(wire, CdcConfig()), sinkCfg("tolalldb").copy(errorsTolerance = "all"))
    assert(statsAll == JdbcApply.ApplyStats(corruptSkipped = 1, warningsLogged = 0))
    // both tolerant modes reach the identical terminal state
    assertTerminal(s"jdbc:derby:memory:tollogdb")
    assertTerminal(s"jdbc:derby:memory:tolalldb")
    intercept[IllegalArgumentException] {
      JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()),
        sinkCfg("tolbaddb").copy(errorsTolerance = "warn"))
    }
  }

  test("duplicate-key detection is duplicate-SPECIFIC, not any class-23 violation") {
    import java.sql.{SQLException, SQLIntegrityConstraintViolationException}
    assert(JdbcApply.isDuplicateKey(new SQLException("dup", "23505")))
    assert(JdbcApply.isDuplicateKey(new SQLException("mysql dup", "23000", 1062)))
    assert(JdbcApply.isDuplicateKey(new SQLException("ora-00001", "23000", 1)))
    assert(JdbcApply.isDuplicateKey(new SQLException("mssql dup", "23000", 2627)))
    // FK / NOT NULL / CHECK violations must RETHROW — swallowing them
    // on the all-PK insert path would silently drop corrupt rows.
    // 23000 is Oracle/SQL Server/MySQL's GENERIC integrity state (FK
    // ORA-02291, error 547, MySQL 1452/1048 all carry it), so the
    // bare state without a duplicate vendor code does not qualify.
    assert(!JdbcApply.isDuplicateKey(new SQLException("ambiguous", "23000")))
    assert(!JdbcApply.isDuplicateKey(new SQLException("mysql fk", "23000", 1452)))
    assert(!JdbcApply.isDuplicateKey(new SQLException("fk", "23503")))
    assert(!JdbcApply.isDuplicateKey(new SQLException("notnull", "23502")))
    assert(!JdbcApply.isDuplicateKey(new SQLException("check", "23514")))
    assert(!JdbcApply.isDuplicateKey(
      new SQLIntegrityConstraintViolationException("fk, typed, no state")))
    assert(!JdbcApply.isDuplicateKey(new SQLException("syntax", "42000")))
    assert(!JdbcApply.isDuplicateKey(new SQLException("no state")))
    assert(!JdbcApply.isDuplicateKey(new SQLException("code only", null, 1062)))
  }

  test("malformed JSON routes to the DLQ instead of crashing the apply") {
    val db = "garbagedb"
    val ev = fixture.take(2) ++ Seq(
      wireRow(20, "PT", """{"ID":9}""", "this is not json"),
      wireRow(21, "DL", "also not json", null))
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(ev), Cdc.kafkaWireSchema)
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), sinkCfg(db))
    val conn = DriverManager.getConnection(s"jdbc:derby:memory:$db")
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT "error_reason" FROM "STREAMING_CORRUPT_EVENTS" ORDER BY "kafka_offset"""")
      rs.next(); assert(rs.getString(1).contains("value is not valid JSON"))
      rs.next(); assert(rs.getString(1).contains("key is not valid JSON"))
      assert(!rs.next())
      val rs2 = conn.createStatement().executeQuery(
        """SELECT COUNT(*) FROM "TEST_ORDERS"""")
      rs2.next(); assert(rs2.getInt(1) == 2) // valid rows still applied
    } finally conn.close()
  }

  test("all-PK table upsert is idempotent under replay (generic dialect)") {
    val db = "allpkdb"
    val ev = Seq(wireRow(0, "PT", """{"ID":5}""", """{"ID":5}"""))
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(ev), Cdc.kafkaWireSchema)
    val cfg = sinkCfg(db).copy(
      tableSchemas = Map("TEST_ORDERS" -> StructType.fromDDL("ID BIGINT")))
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), cfg)
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), cfg) // replay: no dup-key crash
    val conn = DriverManager.getConnection(s"jdbc:derby:memory:$db")
    try {
      val rs = conn.createStatement().executeQuery("""SELECT COUNT(*) FROM "TEST_ORDERS"""")
      rs.next(); assert(rs.getInt(1) == 1)
    } finally conn.close()
  }

  test("auto-evolve adds new columns to an existing table (W9)") {
    val db = "evolvedb"
    val wire1 = spark.createDataFrame(
      spark.sparkContext.parallelize(fixture.take(1)), Cdc.kafkaWireSchema)
    JdbcApply.applyBatch(CdcNormalize(wire1, CdcConfig()), sinkCfg(db))
    // same table, wider schema: NOTES column appears
    val wider = StructType.fromDDL(
      "ID BIGINT, ORDER_NAME STRING, AMOUNT DOUBLE, STATUS STRING, NOTES STRING")
    val ev2 = Seq(wireRow(10, "UP", """{"ID":1}""",
      """{"ID":1,"ORDER_NAME":"Order-001","AMOUNT":100.50,"STATUS":"NEW","NOTES":"evolved"}"""))
    val wire2 = spark.createDataFrame(
      spark.sparkContext.parallelize(ev2), Cdc.kafkaWireSchema)
    JdbcApply.applyBatch(CdcNormalize(wire2, CdcConfig()),
      sinkCfg(db).copy(tableSchemas = Map("TEST_ORDERS" -> wider)))
    val conn = DriverManager.getConnection(s"jdbc:derby:memory:$db")
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT "NOTES" FROM "TEST_ORDERS" WHERE "ID" = 1""")
      rs.next(); assert(rs.getString(1) == "evolved")
    } finally conn.close()
  }

  test("one batch fans out to multiple target tables") {
    val db = "multidb"
    val ev = Seq(
      wireRow(0, "PT", """{"ID":1}""",
        """{"ID":1,"ORDER_NAME":"A","AMOUNT":1.0,"STATUS":"NEW"}""", "TEST_ORDERS"),
      wireRow(1, "PT", """{"ID":2}""",
        """{"ID":2,"ORDER_NAME":"B","AMOUNT":2.0,"STATUS":"NEW"}""", "TEST_SHIPMENTS"))
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(ev), Cdc.kafkaWireSchema)
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), twoTableCfg(db))
    val conn = DriverManager.getConnection(s"jdbc:derby:memory:$db")
    try {
      Seq("TEST_ORDERS" -> "A", "TEST_SHIPMENTS" -> "B").foreach { case (t, want) =>
        val rs = conn.createStatement().executeQuery(
          s"""SELECT "ORDER_NAME" FROM "$t"""")
        rs.next(); assert(rs.getString(1) == want, t)
      }
    } finally conn.close()
  }

  test("one apply plan per batch: jobs and exchanges are constant in the table count; a clean batch runs no DLQ job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.graftshim.GraftShims
    object Plans extends AdaptiveSparkPlanHelper
    val tables = Seq("T_A", "T_B", "T_C", "T_D")
    val cfg = (db: String) => sinkCfg(db).copy(
      tableSchemas = tables.map(_ -> orderSchema).toMap,
      keySchemas = tables.map(_ -> StructType.fromDDL("ID BIGINT")).toMap,
      primaryKeys = tables.map(_ -> Seq("ID")).toMap)
    // two upserts and a delete per table
    def rowsFor(ts: Seq[String]): Seq[Row] = ts.zipWithIndex.flatMap { case (t, i) =>
      Seq(wireRow(3L * i, "PT", """{"ID":1}""",
          """{"ID":1,"ORDER_NAME":"A","AMOUNT":1.0,"STATUS":"NEW"}""", t),
        wireRow(3L * i + 1, "PT", """{"ID":2}""",
          """{"ID":2,"ORDER_NAME":"B","AMOUNT":2.0,"STATUS":"NEW"}""", t),
        wireRow(3L * i + 2, "DL", """{"ID":1}""", null, t))
    }
    /** (Spark jobs, shuffle exchanges in the executed plans) of one
      * applyBatch under errors.tolerance=log. */
    def census(rows: Seq[Row], db: String): (Int, Int) = {
      val wire = spark.createDataFrame(
        spark.sparkContext.parallelize(rows), Cdc.kafkaWireSchema)
      val norm = CdcNormalize(wire, CdcConfig())
      val jobs, exchanges = new java.util.concurrent.atomic.AtomicInteger
      val jobListener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      val planListener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          exchanges.addAndGet(Plans.collectWithSubqueries(qe.executedPlan) {
            case x: ShuffleExchangeLike => x }.length)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      GraftShims.waitListenerBusEmpty(spark.sparkContext)
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
      try {
        JdbcApply.applyBatch(norm, cfg(db))
        GraftShims.waitListenerBusEmpty(spark.sparkContext)
      } finally {
        spark.sparkContext.removeSparkListener(jobListener)
        spark.listenerManager.unregister(planListener)
      }
      (jobs.get, exchanges.get)
    }
    val corruptRow = wireRow(99, null, """{"ID":9}""", """{"ID":9}""", "T_A")
    val one = census(rowsFor(tables.take(1)), "plan1db")
    val four = census(rowsFor(tables), "plan4db")
    // a corrupt row beside the valid ones: the DLQ branch rides the
    // write job, so the batch costs what a clean one does
    val dirty = census(rowsFor(tables.take(1)) :+ corruptRow, "plandirtydb")
    info(s"(jobs, exchanges): 1 table $one, 4 tables $four, 1 table + 1 corrupt row $dirty")
    // census (1 narrow job) + ONE write job on one task: the batch is
    // coalesced to one partition, so the LWW window needs no exchange
    assert(one == ((2, 0)), s"1 table: $one")
    assert(four == ((2, 0)), s"4 tables: $four")
    assert(dirty == ((2, 0)), s"1 table + 1 corrupt row: $dirty")
    // the dirty batch's corrupt row reached the DLQ; a clean batch
    // never creates the DLQ table
    assert(dlqCount("jdbc:derby:memory:plandirtydb") == 1)
    assert(!tableExists("jdbc:derby:memory:plan4db", "STREAMING_CORRUPT_EVENTS"))
    // and every table landed: ID 2 survives, the delete removed ID 1
    tables.foreach(t => assert(idsOf("jdbc:derby:memory:plan4db", t) == Seq(2L), t))
    assert(idsOf("jdbc:derby:memory:plandirtydb", "T_A") == Seq(2L))
    // one connection and one transaction carry the data and the DLQ
    // row, over 4 input slices: the driver's DDL connection plus ONE
    // writer
    FlakyJdbc.register()
    FlakyJdbc.reset(failCommits = 0, transientFlavor = true)
    val wire = spark.createDataFrame(spark.sparkContext.parallelize(
      rowsFor(tables.take(1)) :+ corruptRow, 4), Cdc.kafkaWireSchema)
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), cfg("planflakydb").copy(
      url = s"${FlakyJdbc.Prefix}memory:planflakydb;create=true"))
    assert((FlakyJdbc.connectAttempts.get(), FlakyJdbc.commitAttempts.get()) == ((2, 1)),
      "a dirty batch opens 2 connections and commits once, got " +
        s"(${FlakyJdbc.connectAttempts.get()}, ${FlakyJdbc.commitAttempts.get()})")
    assert(dlqCount("jdbc:derby:memory:planflakydb") == 1)
    assert(idsOf("jdbc:derby:memory:planflakydb", "T_A") == Seq(2L))
  }

  test("the WARN cap holds across partitions; DLQ and targets survive a replay unchanged") {
    val db = "warncapdb"
    // 600 rows over 4 input partitions: every 4th row valid (distinct
    // IDs), the rest corrupt (no A_ENTTYP) — 112-113 corrupt rows per
    // partition, so both the per-partition and the merged cap bite
    val rows = (0 until 600).map { i =>
      if (i % 4 == 0) wireRow(i, "PT", s"""{"ID":$i}""",
        s"""{"ID":$i,"ORDER_NAME":"o$i","AMOUNT":1.0,"STATUS":"NEW"}""")
      else wireRow(i, null, s"""{"ID":$i}""", s"""{"ID":$i}""")
    }
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), Cdc.kafkaWireSchema)
    assert(wire.rdd.getNumPartitions == 4)
    val url = s"jdbc:derby:memory:$db"
    val stats = JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), sinkCfg(db))
    assert(stats == JdbcApply.ApplyStats(corruptSkipped = 450,
      warningsLogged = JdbcApply.MaxLoggedCorrupt))
    assert(dlqCount(url) == 450)
    val applied = queryAll(url)
    assert(applied.map(_._1) == (0L until 600L by 4L))
    val replay = JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), sinkCfg(db))
    assert(replay == stats)
    assert(dlqCount(url) == 450, "a replay must replace its own DLQ rows")
    assert(queryAll(url) == applied)
  }

  test("undeclared table applies via runtime-inferred schema (C1 fallback)") {
    val db = "inferdb"
    // TEST_ORDERS has no pinned schema; TEST_SHIPMENTS, pinned, rides
    // the same batch — the two share one write plan
    val ev = fixture.take(5) :+ wireRow(6, "PT", """{"ID":4}""",
      """{"ID":4,"ORDER_NAME":"S","AMOUNT":4.0,"STATUS":"NEW"}""", "TEST_SHIPMENTS")
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(ev), Cdc.kafkaWireSchema)
    val cfg = twoTableCfg(db).copy(
      tableSchemas = Map("TEST_SHIPMENTS" -> orderSchema), // TEST_ORDERS: PK config only
      errorsTolerance = "all")
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), cfg)
    // inferred {AMOUNT double, ID long, ORDER_NAME string, STATUS string}
    // reaches the same terminal rows as the pinned-schema runs
    assert(queryAll(s"jdbc:derby:memory:$db") == Seq(
      (1L, "Order-001", 100.50, "NEW"),
      (2L, "Order-002-Updated", 250.00, "PROCESSING")))
    assert(idsOf(s"jdbc:derby:memory:$db", "TEST_SHIPMENTS") == Seq(4L))
  }

  test("field.type.overrides: date column materializes; unparseable routes to DLQ") {
    val db = "overridedb"
    val ev = Seq(
      wireRow(0, "PT", """{"ID":1}""",
        """{"ID":1,"ORDER_NAME":"A","AMOUNT":1.0,"STATUS":"NEW","ORDER_DATE":"2026-01-15"}"""),
      wireRow(1, "PT", """{"ID":2}""",
        """{"ID":2,"ORDER_NAME":"B","AMOUNT":2.0,"STATUS":"NEW","ORDER_DATE":"junk"}"""))
    val schema = StructType.fromDDL(
      "ID BIGINT, ORDER_NAME STRING, AMOUNT DOUBLE, STATUS STRING, ORDER_DATE STRING")
    val cfg = sinkCfg(db).copy(
      tableSchemas = Map("TEST_ORDERS" -> schema),
      fieldTypeOverrides = graft.operators.TypeOverrides.parseConfig("ORDER_DATE:date"))
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(ev), Cdc.kafkaWireSchema)
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), cfg)
    val conn = DriverManager.getConnection(s"jdbc:derby:memory:$db")
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT "ID", "ORDER_DATE" FROM "TEST_ORDERS" ORDER BY "ID"""")
      rs.next()
      assert(rs.getLong(1) == 1L)
      assert(rs.getDate(2).toString == "2026-01-15") // a real DATE column
      assert(!rs.next()) // the unparseable row was never applied
      val rs2 = conn.createStatement().executeQuery(
        """SELECT "error_reason" FROM "STREAMING_CORRUPT_EVENTS"""")
      rs2.next(); assert(rs2.getString(1).contains("Cannot parse 'junk' as date"))
      assert(!rs2.next())
    } finally conn.close()
  }

  test("field.type.overrides scoping: same-named non-string field on another table untouched") {
    val db = "scopedb"
    val ev = Seq(
      wireRow(0, "PT", """{"ID":1}""",
        """{"ID":1,"ORDER_NAME":"A","AMOUNT":1.0,"STATUS":"NEW","ORDER_DATE":"2026-01-15"}""",
        "TEST_ORDERS"),
      // same field NAME on another table, but numeric epoch millis,
      // declared BIGINT — must parse under ITS type, never the override
      wireRow(1, "PT", """{"ID":2}""",
        """{"ID":2,"ORDER_NAME":"B","AMOUNT":2.0,"STATUS":"NEW","ORDER_DATE":1705276800000}""",
        "TEST_SHIPMENTS"))
    val ordersSchema = StructType.fromDDL(
      "ID BIGINT, ORDER_NAME STRING, AMOUNT DOUBLE, STATUS STRING, ORDER_DATE STRING")
    val shipSchema = StructType.fromDDL(
      "ID BIGINT, ORDER_NAME STRING, AMOUNT DOUBLE, STATUS STRING, ORDER_DATE BIGINT")
    val cfg = sinkCfg(db).copy(
      tableSchemas = Map("TEST_ORDERS" -> ordersSchema, "TEST_SHIPMENTS" -> shipSchema),
      keySchemas = Map("TEST_ORDERS" -> StructType.fromDDL("ID BIGINT"),
        "TEST_SHIPMENTS" -> StructType.fromDDL("ID BIGINT")),
      primaryKeys = Map("TEST_ORDERS" -> Seq("ID"), "TEST_SHIPMENTS" -> Seq("ID")),
      errorsTolerance = "none", // a mis-scoped corrupt mark would THROW here
      fieldTypeOverrides = graft.operators.TypeOverrides.parseConfig("ORDER_DATE:date"))
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(ev), Cdc.kafkaWireSchema)
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), cfg)
    val conn = DriverManager.getConnection(s"jdbc:derby:memory:$db")
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT "ORDER_DATE" FROM "TEST_ORDERS"""")
      rs.next(); assert(rs.getDate(1).toString == "2026-01-15")
      val rs2 = conn.createStatement().executeQuery(
        """SELECT "ORDER_DATE" FROM "TEST_SHIPMENTS"""")
      rs2.next(); assert(rs2.getLong(1) == 1705276800000L)
    } finally conn.close()
  }

  test("connection.user/password forwarded to an auth-requiring database") {
    val db = "authdb"
    val url = s"jdbc:derby:memory:$db"
    // bootstrap: create the db, define a BUILTIN user, require auth
    val c0 = DriverManager.getConnection(url + ";create=true")
    val st = c0.createStatement()
    st.execute("CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY('derby.user.app', 'secret')")
    st.execute("CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY('derby.authentication.provider', 'BUILTIN')")
    st.execute("CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY('derby.connection.requireAuthentication', 'true')")
    c0.close()
    // static auth properties take effect after reboot
    intercept[java.sql.SQLException](
      DriverManager.getConnection(url + ";shutdown=true"))
    // unauthenticated connects are now rejected — a regression that
    // drops the configured credentials cannot pass this test
    intercept[java.sql.SQLException](DriverManager.getConnection(url))
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(fixture), Cdc.kafkaWireSchema)
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()),
      sinkCfg(db).copy(user = Some("app"), password = Some("secret")))
    val conn = DriverManager.getConnection(url, "app", "secret")
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT COUNT(*) FROM "TEST_ORDERS"""")
      rs.next(); assert(rs.getInt(1) == 2)
      val rs2 = conn.createStatement().executeQuery(
        """SELECT COUNT(*) FROM "STREAMING_CORRUPT_EVENTS"""")
      rs2.next(); assert(rs2.getInt(1) == 1)
    } finally conn.close()
  }

  test("field.name.case=lower creates lowercase columns; binding stays positional") {
    val db = "fieldcasedb"
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(fixture.take(2)), Cdc.kafkaWireSchema)
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()),
      sinkCfg(db).copy(fieldNameCase = "lower"))
    val conn = DriverManager.getConnection(s"jdbc:derby:memory:$db")
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT "id", "order_name" FROM "TEST_ORDERS" ORDER BY "id"""")
      rs.next()
      assert(rs.getLong(1) == 1L && rs.getString(2) == "Order-001")
    } finally conn.close()
  }

  test("a configured PK resolving to no column fails fast with the config named") {
    val db = "badpkdb"
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(fixture), Cdc.kafkaWireSchema)
    val cfg = sinkCfg(db).copy(
      primaryKeys = Map("TEST_ORDERS" -> Seq("NO_SUCH_COL")),
      keySchemas = Map.empty)
    val e = intercept[IllegalArgumentException] {
      JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), cfg)
    }
    assert(e.getMessage.contains("NO_SUCH_COL") &&
      e.getMessage.contains("TEST_ORDERS"),
      s"error must name the missing PK and table: ${e.getMessage}")
  }

  test("field.type.overrides config validation mirrors the reference") {
    import graft.operators.TypeOverrides
    assert(TypeOverrides.parseConfig("") == Map.empty)
    assert(TypeOverrides.parseConfig(null) == Map.empty)
    assert(TypeOverrides.parseConfig(" created_at:timestamp , d:DATE ") ==
      Map("created_at" -> "timestamp", "d" -> "date"))
    intercept[IllegalArgumentException](TypeOverrides.parseConfig("noseparator"))
    intercept[IllegalArgumentException](TypeOverrides.parseConfig("f:int"))
  }

  test("file sink archives normalized events partitioned by target table (W16)") {
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(Cdc.kafkaWireSchema)
    val mem = MemoryStream[Row](enc, spark)
    val out = java.nio.file.Files.createTempDirectory("graft-archive").toString
    val q = CdcStream.fileSink(
      CdcNormalize(mem.toDF(), CdcConfig()).drop("key", "value", "headers"),
      out, "parquet",
      java.nio.file.Files.createTempDirectory("graft-archive-ckpt").toString)
      .start()
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
    } finally q.stop()
    val archived = spark.read.parquet(out)
    assert(archived.count() == 6)
    // all six route to TEST_ORDERS (the corrupt row lacks A_ENTTYP,
    // not TableName, so it still carries the partition value)
    assert(archived.select("target_table").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("TEST_ORDERS"))
    assert(archived.filter(org.apache.spark.sql.functions.col("corrupt_reason").isNotNull)
      .count() == 1)
  }

  test("streaming shell: MemoryStream micro-batches reach the same terminal state") {
    val db = "streamdb"
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(Cdc.kafkaWireSchema)
    import spark.implicits._
    val mem = MemoryStream[Row](enc, spark)
    val query = CdcStream.writer(mem.toDF(), CdcConfig(), sinkCfg(db))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      .start()
    try {
      mem.addData(fixture.take(3): _*) // first micro-batch: 3 inserts
      query.processAllAvailable()
      mem.addData(fixture.drop(3): _*) // second: update, delete, corrupt
      query.processAllAvailable()
    } finally query.stop()
    assertTerminal(s"jdbc:derby:memory:$db")
  }

  // ------------------------------------------------- checkpoint restart

  /** One wire event per parquet file ⇒ one micro-batch per file under
    * maxFilesPerTrigger=1. Zero-padded names + strictly increasing
    * modification times pin the file source's processing order to the
    * fixture's offset order (FileStreamSource batches oldest-first). */
  private def writeWireFiles(dir: String, rows: Seq[Row]): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    rows.zipWithIndex.foreach { case (r, i) =>
      val stage = Files.createTempDirectory("graft-wire-one").toString
      spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(r), 1), Cdc.kafkaWireSchema)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .getOrElse(fail(s"no part file under $stage"))
      val dst = Paths.get(dir, f"wire-$i%05d.parquet")
      Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
  }

  private def fileWire(dir: String) = spark.readStream
    .schema(Cdc.kafkaWireSchema)
    .option("maxFilesPerTrigger", 1)
    .parquet(dir)

  test("checkpoint kill/restart: the replayed epoch converges to the single-run terminal state") {
    import java.nio.file.Files
    // ---- reference run: same files, same pipeline, never killed
    val srcA = Files.createTempDirectory("graft-wire-ref").toString
    writeWireFiles(srcA, fixture)
    val qA = CdcStream.start(fileWire(srcA), CdcConfig(),
      sinkCfg("ckptrefdb"),
      Files.createTempDirectory("graft-ckpt-ref").toString, 50L)
    try qA.processAllAvailable() finally qA.stop()
    assertTerminal("jdbc:derby:memory:ckptrefdb")
    val refRows = queryAll("jdbc:derby:memory:ckptrefdb")

    // ---- kill run: crash AFTER epoch 2's JDBC writes committed but
    // BEFORE Structured Streaming writes epoch 2's commit-log entry —
    // the exact at-least-once window the effectively-once claim
    // (SURVEY §3.1, reference IidrCdcSinkTask.java:143-154 replay
    // story) has to survive
    val db = "ckptkilldb"
    val srcB = Files.createTempDirectory("graft-wire-kill").toString
    writeWireFiles(srcB, fixture)
    val ckpt = Files.createTempDirectory("graft-ckpt-kill").toString
    val applied = scala.collection.concurrent.TrieMap.empty[Long, Int]
    @volatile var killArmed = true
    val onBatch: (Long, JdbcApply.ApplyStats) => Unit = (epoch, _) => {
      applied.updateWith(epoch)(c => Some(c.getOrElse(0) + 1))
      if (killArmed && epoch == 2L) {
        killArmed = false
        throw new RuntimeException("injected-crash-after-apply")
      }
    }
    val q1 = CdcStream.start(fileWire(srcB), CdcConfig(), sinkCfg(db),
      ckpt, 50L, onBatch)
    // both waits rethrow the streaming failure — that IS the kill
    try { q1.processAllAvailable(); q1.awaitTermination(120000L) }
    catch { case _: Throwable => () }
    val failure = q1.exception
    assert(failure.isDefined, "the injected crash must terminate the query")
    assert(Iterator.iterate(failure.get: Throwable)(_.getCause)
      .takeWhile(_ != null).take(10)
      .exists(t => Option(t.getMessage)
        .exists(_.contains("injected-crash-after-apply"))),
      s"query must die on the INJECTED fault, got: ${failure.get.getMessage}")
    assert(applied.toMap == Map(0L -> 1, 1L -> 1, 2L -> 1),
      s"the kill run applies epochs 0..2 exactly once, got $applied")

    // ---- restart from the SAME checkpoint: epoch 2's offsets are
    // logged but uncommitted, so it REPLAYS; the idempotent
    // upsert/delete + coordinate-keyed DLQ absorb the duplicate apply
    val q2 = CdcStream.start(fileWire(srcB), CdcConfig(), sinkCfg(db),
      ckpt, 50L, onBatch)
    try q2.processAllAvailable() finally q2.stop()
    assert(applied.getOrElse(2L, 0) == 2,
      s"epoch 2 must be applied AGAIN after the restart, got $applied")
    assert(applied.getOrElse(0L, 0) == 1 && applied.getOrElse(1L, 0) == 1,
      s"committed epochs must NOT replay, got $applied")
    assert((3L to 5L).forall(e => applied.getOrElse(e, 0) == 1),
      s"post-crash epochs apply exactly once, got $applied")
    assertTerminal(s"jdbc:derby:memory:$db")
    assert(queryAll(s"jdbc:derby:memory:$db") == refRows,
      "kill+restart terminal state must equal the single-run state")
  }

  // ------------------------------------------------------ W17 retry

  test("W17: transient JDBC failure retries with backoff and converges (exceeds the reference, which declares max.retries and never reads it)") {
    FlakyJdbc.register()
    FlakyJdbc.reset(failCommits = 2, transientFlavor = true)
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(fixture.take(1)), Cdc.kafkaWireSchema)
    val cfg = sinkCfg("w17okdb").copy(
      url = s"${FlakyJdbc.Prefix}memory:w17okdb;create=true",
      maxRetries = 3, retryBackoffMs = 200L)
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), cfg)
    assert(FlakyJdbc.commitAttempts.get() == 3,
      s"2 injected failures + 1 success = 3 attempts, got ${FlakyJdbc.commitAttempts.get()}")
    // backoff observed between consecutive attempts
    val ts = FlakyJdbc.attemptNanos.toArray(Array.empty[java.lang.Long]).map(_.longValue)
    ts.sliding(2).foreach { case Array(a, b) =>
      assert(b - a >= 180L * 1000000L,
        s"attempts must be spaced by ~retryBackoffMs, got ${(b - a) / 1e6}ms")
    }
    // replay safety: the two rolled-back attempts left nothing behind
    assert(queryAll("jdbc:derby:memory:w17okdb") ==
      Seq((1L, "Order-001", 100.50, "NEW")))

    // ONE transaction holds the data and the DLQ rows of a batch read
    // from 3 slices: both roll back together and the replay reaches the
    // terminal state
    FlakyJdbc.reset(failCommits = 2, transientFlavor = true)
    val dirty = spark.createDataFrame(
      spark.sparkContext.parallelize(fixture, 3), Cdc.kafkaWireSchema)
    JdbcApply.applyBatch(CdcNormalize(dirty, CdcConfig()), sinkCfg("w17onedb").copy(
      url = s"${FlakyJdbc.Prefix}memory:w17onedb;create=true",
      maxRetries = 3, retryBackoffMs = 10L))
    assert(FlakyJdbc.commitAttempts.get() == 3,
      s"one task: 2 injected failures + 1 success = 3 attempts, got ${FlakyJdbc.commitAttempts.get()}")
    assertTerminal("jdbc:derby:memory:w17onedb")

    // Every attempt builds its own plan and Observation: a batch with
    // unroutable rows reports, after 2 injected failures, the count the
    // same batch reports with none. The attempts read the cached batch:
    // the source is read once, by the census.
    val reads = spark.sparkContext.longAccumulator("w17 source reads")
    val orphans = spark.createDataFrame(spark.sparkContext
      .parallelize(unroutableRows, 2).map { r => reads.add(1); r }, Cdc.kafkaWireSchema)
    def applyOrphans(db: String) = JdbcApply.applyBatch(CdcNormalize(orphans, CdcConfig()),
      twoTableCfg(db).copy(url = s"${FlakyJdbc.Prefix}memory:$db;create=true",
        maxRetries = 3, retryBackoffMs = 10L))
    FlakyJdbc.reset(failCommits = 0, transientFlavor = true)
    val clean = applyOrphans("w17u0db")
    FlakyJdbc.reset(failCommits = 2, transientFlavor = true)
    reads.reset()
    val retried = applyOrphans("w17u2db")
    assert(FlakyJdbc.commitAttempts.get() == 3,
      s"2 injected failures + 1 success = 3 attempts, got ${FlakyJdbc.commitAttempts.get()}")
    assert(clean.unroutableSkipped == 3 && retried == clean,
      s"a retried batch must report its unroutable rows: clean $clean, retried $retried")
    assert(reads.value == unroutableRows.length,
      s"the retried write must read the cache, got ${reads.value} source reads")
    assert(idsOf("jdbc:derby:memory:w17u2db", "TEST_SHIPMENTS") == Seq(7L))
  }

  test("W17: transient CONNECT failures retry the driver DDL leg too") {
    // A flapping database fails at connect (SQLState 08001) BEFORE any
    // write runs — the first connection an epoch opens is applyBatch's
    // driver-side DDL scope (ensureTable), so without retry there the
    // epoch dies while its partition writes would have retried.
    FlakyJdbc.register()
    FlakyJdbc.reset(failCommits = 0, transientFlavor = true, failConnects = 2)
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(fixture.take(1)), Cdc.kafkaWireSchema)
    val cfg = sinkCfg("w17conndb").copy(
      url = s"${FlakyJdbc.Prefix}memory:w17conndb;create=true",
      maxRetries = 3, retryBackoffMs = 10L)
    JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), cfg)
    assert(FlakyJdbc.connectAttempts.get() >= 3,
      "the DDL scope must reconnect past 2 injected connect failures, " +
        s"got ${FlakyJdbc.connectAttempts.get()} attempts")
    assert(queryAll("jdbc:derby:memory:w17conndb") ==
      Seq((1L, "Order-001", 100.50, "NEW")),
      "the batch must land after the connect flap")
  }

  test("W17: non-transient failure never retries and fails loudly") {
    FlakyJdbc.register()
    FlakyJdbc.reset(failCommits = 1, transientFlavor = false)
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(fixture.take(1)), Cdc.kafkaWireSchema)
    val cfg = sinkCfg("w17permdb").copy(
      url = s"${FlakyJdbc.Prefix}memory:w17permdb;create=true",
      maxRetries = 3, retryBackoffMs = 50L)
    val e = intercept[Exception] {
      JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), cfg)
    }
    assert(FlakyJdbc.commitAttempts.get() == 1,
      s"a non-transient error must not retry, got ${FlakyJdbc.commitAttempts.get()} attempts")
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .take(10).exists(t => Option(t.getMessage)
        .exists(_.contains("injected permanent failure"))),
      s"the permanent failure must propagate, got: ${e.getMessage}")
  }

  test("W17: exhausted retries propagate the transient failure") {
    FlakyJdbc.register()
    FlakyJdbc.reset(failCommits = 99, transientFlavor = true)
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(fixture.take(1)), Cdc.kafkaWireSchema)
    val cfg = sinkCfg("w17exhdb").copy(
      url = s"${FlakyJdbc.Prefix}memory:w17exhdb;create=true",
      maxRetries = 2, retryBackoffMs = 10L)
    val e = intercept[Exception] {
      JdbcApply.applyBatch(CdcNormalize(wire, CdcConfig()), cfg)
    }
    assert(FlakyJdbc.commitAttempts.get() == 3,
      s"1 initial + 2 retries = 3 attempts, got ${FlakyJdbc.commitAttempts.get()}")
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .take(10).exists(t => Option(t.getMessage)
        .exists(_.contains("injected transient commit failure"))),
      s"the exhausted transient failure must propagate, got: ${e.getMessage}")
  }

  test("W17: transient classification is rollback/connection-specific, not any SQLException") {
    import java.sql._
    assert(JdbcApply.isTransient(
      new SQLTransientConnectionException("conn lost", "08006")))
    assert(JdbcApply.isTransient(
      new SQLTransactionRollbackException("deadlock victim", "40001")))
    assert(JdbcApply.isTransient(new SQLRecoverableException("io", "99999")))
    assert(JdbcApply.isTransient(new SQLException("pre-JDBC4 driver", "08S01")))
    // BatchUpdateException buries the state in getNextException
    val bue = new BatchUpdateException("batch failed", "HY000", 0, scala.Array(1))
    bue.setNextException(new SQLException("deadlock", "40001"))
    assert(JdbcApply.isTransient(bue))
    // PostgreSQL spells deadlock 40P01 (pre-JDBC4 path: bare state)
    assert(JdbcApply.isTransient(new SQLException("pg deadlock", "40P01")))
    // NOT the whole class 40: 40002 is an integrity-constraint
    // rollback — replay re-fails identically, so retrying it only
    // delays the loud failure and bypasses isDuplicateKey.
    assert(!JdbcApply.isTransient(
      new SQLException("constraint rollback", "40002")))
    assert(!JdbcApply.isTransient(
      new SQLIntegrityConstraintViolationException("dup", "23505")))
    assert(!JdbcApply.isTransient(new SQLSyntaxErrorException("bad", "42X01")))
    assert(!JdbcApply.isTransient(new RuntimeException("not sql at all")))
    // the driver sees a failed write task's exception as the cause of
    // Spark's job-abort wrapper
    assert(JdbcApply.isTransient(new org.apache.spark.SparkException("Job aborted",
      new SQLTransientConnectionException("conn lost", "08006"))))
    assert(!JdbcApply.isTransient(new org.apache.spark.SparkException("Job aborted",
      new SQLSyntaxErrorException("bad", "42X01"))))
  }
}

/** Fault-injecting JDBC driver: delegates to embedded Derby, failing
  * the first N `commit()` calls with a transient (08006) or permanent
  * (42X01) error — the wrapper-connection harness the W17 retry spec
  * drives attempts/backoff through. Same-JVM statics are visible to
  * executor threads under local[*]. */
object FlakyJdbc {
  val Prefix = "jdbc:graftflaky:"
  val commitAttempts = new java.util.concurrent.atomic.AtomicInteger(0)
  val connectAttempts = new java.util.concurrent.atomic.AtomicInteger(0)
  val attemptNanos = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  @volatile private var failCommitsLeft = 0
  @volatile private var failConnectsLeft = 0
  @volatile private var transientMode = true
  @volatile private var registered = false

  def reset(failCommits: Int, transientFlavor: Boolean,
      failConnects: Int = 0): Unit = synchronized {
    commitAttempts.set(0); connectAttempts.set(0); attemptNanos.clear()
    failCommitsLeft = failCommits; failConnectsLeft = failConnects
    transientMode = transientFlavor
  }

  def register(): Unit = synchronized {
    if (!registered) {
      java.sql.DriverManager.registerDriver(new FlakyJdbcDriver)
      registered = true
    }
  }

  private[graft] def onConnect(): Unit = {
    val n = connectAttempts.incrementAndGet()
    val shouldFail = synchronized {
      if (failConnectsLeft > 0) { failConnectsLeft -= 1; true } else false
    }
    if (shouldFail)
      throw new java.sql.SQLTransientConnectionException(
        s"injected transient connect failure #$n", "08001")
  }

  private[graft] def onCommit(): Unit = {
    val n = commitAttempts.incrementAndGet()
    attemptNanos.add(java.lang.Long.valueOf(System.nanoTime()))
    val shouldFail = synchronized {
      if (failCommitsLeft > 0) { failCommitsLeft -= 1; true } else false
    }
    if (shouldFail) {
      if (transientMode)
        throw new java.sql.SQLTransientConnectionException(
          s"injected transient commit failure #$n", "08006")
      else
        throw new java.sql.SQLSyntaxErrorException(
          s"injected permanent failure #$n", "42X01")
    }
  }
}

class FlakyJdbcDriver extends java.sql.Driver {
  import java.sql.{Connection, DriverManager}
  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(FlakyJdbc.Prefix)
  override def connect(url: String, info: java.util.Properties): Connection = {
    if (!acceptsURL(url)) return null
    FlakyJdbc.onConnect()
    val real = DriverManager.getConnection(
      "jdbc:derby:" + url.stripPrefix(FlakyJdbc.Prefix), info)
    java.lang.reflect.Proxy.newProxyInstance(
      getClass.getClassLoader, Array(classOf[Connection]),
      (_, method, args) => {
        if (method.getName == "commit") FlakyJdbc.onCommit()
        try {
          if (args == null) method.invoke(real)
          else method.invoke(real, args: _*)
        } catch {
          case e: java.lang.reflect.InvocationTargetException =>
            throw e.getCause
        }
      }).asInstanceOf[Connection]
  }
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def getParentLogger =
    throw new java.sql.SQLFeatureNotSupportedException()
  override def getPropertyInfo(url: String, info: java.util.Properties) =
    Array.empty[java.sql.DriverPropertyInfo]
  override def jdbcCompliant(): Boolean = false
}
