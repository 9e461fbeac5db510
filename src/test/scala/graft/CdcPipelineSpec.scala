package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{Cdc, CdcConfig}
import graft.operators.{CdcNormalize, CdcOps}

/**
 * Replays the reference's canonical IIDR fixture (FIXTURES.md §2;
 * hack/scripts/iidr-test-producer.py:53-113): 3 inserts, 1 update,
 * 1 delete, 1 corrupt (missing A_ENTTYP) — and asserts the exact
 * terminal state the reference's e2e suite checks
 * (Makefile.iidr:354-372): rows {1: Order-001 100.50 NEW,
 * 2: Order-002-Updated 250.00 PROCESSING}; ID 3 absent; corrupt event
 * lands in the DLQ shape.
 */
class CdcPipelineSpec extends SparkSpec {

  private def utf8(s: String): Array[Byte] =
    if (s == null) null else s.getBytes("UTF-8")

  private def wireDf(events: Seq[(Long, String, String, String, String)]): DataFrame = {
    // (offset, entType or null, keyJson, valueJson, tableName)
    val rows = events.map { case (off, ent, key, value, table) =>
      val headers = Seq(
        Option(table).map(t => Row("TableName", utf8(t))),
        Option(ent).map(e => Row("A_ENTTYP", utf8(e))),
        Some(Row("A_TIMSTAMP", utf8("2026-01-15 10:00:00.000000000000")))
      ).flatten
      Row(utf8(key), utf8(value), headers, "iidr.CDC.TEST_ORDERS", 0, off,
        java.sql.Timestamp.valueOf("2026-01-15 10:00:00"))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Cdc.kafkaWireSchema)
  }

  private val fixture = Seq(
    (0L, "PT", """{"ID":1}""",
      """{"ID":1,"ORDER_NAME":"Order-001","AMOUNT":100.50,"STATUS":"NEW"}""", "TEST_ORDERS"),
    (1L, "PT", """{"ID":2}""",
      """{"ID":2,"ORDER_NAME":"Order-002","AMOUNT":200.75,"STATUS":"NEW"}""", "TEST_ORDERS"),
    (2L, "PT", """{"ID":3}""",
      """{"ID":3,"ORDER_NAME":"Order-003","AMOUNT":350.00,"STATUS":"PENDING"}""", "TEST_ORDERS"),
    (3L, "UP", """{"ID":2}""",
      """{"ID":2,"ORDER_NAME":"Order-002-Updated","AMOUNT":250.00,"STATUS":"PROCESSING"}""", "TEST_ORDERS"),
    (4L, "DL", """{"ID":3}""", null, "TEST_ORDERS"),
    (5L, null, """{"ID":9}""", """{"ID":9}""", "TEST_ORDERS")) // corrupt: no A_ENTTYP

  private val valueSchema = StructType.fromDDL(
    "ID BIGINT, ORDER_NAME STRING, AMOUNT DOUBLE, STATUS STRING")

  test("canonical 5-event fixture reaches the reference's terminal state") {
    val norm = CdcNormalize(wireDf(fixture), CdcConfig())
    val valid = norm.filter(col(Cdc.Cols.CorruptReason).isNull)
      .withColumn("k",
        when(col(Cdc.Cols.Op) === Cdc.Op.Delete,
          get_json_object(col(Cdc.Cols.KeyJson), "$.ID").cast("long"))
          .otherwise(get_json_object(col(Cdc.Cols.ValueJson), "$.ID").cast("long")))

    val lww = CdcOps.lastWriteWins(valid, Cdc.Cols.TargetTable, Seq("k"), "offset")
    val parsed = lww.withColumn("v", from_json(col(Cdc.Cols.ValueJson), valueSchema))
    val changes = parsed.select(
      col("k").as("ID"),
      col("v.ORDER_NAME").as("ORDER_NAME"),
      col("v.AMOUNT").as("AMOUNT"),
      col("v.STATUS").as("STATUS"),
      col(Cdc.Cols.Op))

    val snapshot = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row]),
      StructType.fromDDL("ID BIGINT, ORDER_NAME STRING, AMOUNT DOUBLE, STATUS STRING"))

    val terminal = CdcOps.applyChanges(snapshot, changes, Seq("ID"))
      .orderBy("ID").collect()

    assert(terminal.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val r1 = terminal(0); val r2 = terminal(1)
    assert(r1.getString(1) == "Order-001" && r1.getDouble(2) == 100.50 && r1.getString(3) == "NEW")
    assert(r2.getString(1) == "Order-002-Updated" && r2.getDouble(2) == 250.00 && r2.getString(3) == "PROCESSING")
  }

  test("corrupt event (missing A_ENTTYP) is routed to the DLQ, not applied") {
    val norm = CdcNormalize(wireDf(fixture), CdcConfig())
    val corrupt = norm.filter(col(Cdc.Cols.CorruptReason).isNotNull).collect()
    assert(corrupt.length == 1)
    assert(corrupt.head.getAs[Long]("offset") == 5L)
    assert(corrupt.head.getAs[String](Cdc.Cols.CorruptReason)
      .contains("A_ENTTYP"))

    val dlq = CdcOps.toCorruptEvents(norm,
      col("topic"), col("partition"), col("offset"),
      col(Cdc.Cols.KeyJson), col(Cdc.Cols.ValueJson), lit("{}"),
      col(Cdc.Cols.CorruptReason), col(Cdc.Cols.TableName), col(Cdc.Cols.EntryType))
    assert(dlq.count() == 1)
    assert(dlq.columns.toSeq == Cdc.corruptEventSchema.fieldNames.toSeq)
  }

  test("update after delete for the same key wins (offset order)") {
    val reordered = fixture ++ Seq(
      (6L, "UP", """{"ID":3}""",
        """{"ID":3,"ORDER_NAME":"Order-003-Back","AMOUNT":1.00,"STATUS":"NEW"}""", "TEST_ORDERS"))
    val norm = CdcNormalize(wireDf(reordered), CdcConfig())
    val valid = norm.filter(col(Cdc.Cols.CorruptReason).isNull)
      .withColumn("k",
        when(col(Cdc.Cols.Op) === Cdc.Op.Delete,
          get_json_object(col(Cdc.Cols.KeyJson), "$.ID").cast("long"))
          .otherwise(get_json_object(col(Cdc.Cols.ValueJson), "$.ID").cast("long")))
    val lww = CdcOps.lastWriteWins(valid, Cdc.Cols.TargetTable, Seq("k"), "offset")
    val k3 = lww.filter(col("k") === 3).collect()
    assert(k3.length == 1 && k3.head.getAs[String](Cdc.Cols.Op) == Cdc.Op.Upsert)
  }

  test("default.timezone localizes A_TIMSTAMP during normalize (step 5)") {
    val norm = CdcNormalize(wireDf(fixture.take(1)),
      CdcConfig(timestampZone = "Asia/Taipei")).head()
    assert(norm.getAs[String](Cdc.Cols.SourceTsIso) ==
      "2026-01-15T10:00:00.000000+08:00")
    // UTC default emits +00:00; unparseable/absent header → null
    val utc = CdcNormalize(wireDf(fixture.take(1)), CdcConfig()).head()
    assert(utc.getAs[String](Cdc.Cols.SourceTsIso).endsWith("+00:00"))
  }

  test("custom table.header / entry.type.header names route like the defaults") {
    val rows = Seq(Row(
      utf8("""{"ID":1}"""), utf8("""{"ID":1,"AMOUNT":5.0}"""),
      Seq(Row("TBL", utf8("TEST_ORDERS")), Row("OP_CODE", utf8("PT")),
        Row("A_TIMSTAMP", utf8("2026-01-15 10:00:00.000000000000"))),
      "iidr.CDC.TEST_ORDERS", 0, 0L,
      java.sql.Timestamp.valueOf("2026-01-15 10:00:00")))
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Cdc.kafkaWireSchema)
    val custom = CdcNormalize(wire,
      CdcConfig(tableHeader = "TBL", entryTypeHeader = "OP_CODE")).head()
    assert(custom.getAs[String](Cdc.Cols.TableName) == "TEST_ORDERS")
    assert(custom.getAs[String](Cdc.Cols.Op) == Cdc.Op.Upsert)
    assert(custom.getAs[String](Cdc.Cols.CorruptReason) == null)
    // same record under DEFAULT header names is corrupt (headers
    // missing), and the reason names the CONFIGURED header, not the
    // default constant
    val default = CdcNormalize(wire, CdcConfig()).head()
    assert(default.getAs[String](Cdc.Cols.CorruptReason)
      .contains("Missing required header: TableName"))
    val missing = CdcNormalize(wire,
      CdcConfig(tableHeader = "NOPE", entryTypeHeader = "OP_CODE")).head()
    assert(missing.getAs[String](Cdc.Cols.CorruptReason)
      .contains("Missing required header: NOPE"))
  }

  test("normalize builds in three projections, with the columns and plan of one withColumn per column") {
    import Cdc.Cols
    val cfg = CdcConfig()
    val wire = wireDf(fixture)
    val norm = CdcNormalize(wire, cfg)
    def projects(df: DataFrame): Int = df.queryExecution.analyzed.collect {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project => p
    }.size
    assert(projects(norm) - projects(wire) == 3)
    assert(norm.columns.toSeq == Cdc.kafkaWireSchema.fieldNames.toSeq ++ Seq(
      Cols.TableName, Cols.EntryType, Cols.SourceTs, Cols.SourceTsIso,
      Cols.KeyJson, Cols.ValueJson, Cols.Op, Cols.TargetTable, Cols.CorruptReason))
    // the same columns added one at a time, in step order
    val header = (h: String) => CdcOps.headerString(col("headers"), h)
    val oneByOne = wire
      .withColumn(Cols.TableName, header(cfg.tableHeader))
      .withColumn(Cols.EntryType, header(cfg.entryTypeHeader))
      .withColumn(Cols.SourceTs, header(Cdc.Headers.Timestamp))
      .withColumn(Cols.SourceTsIso, graft.functions.Timestamps
        .iidrTimestampToIsoZoned(col(Cols.SourceTs), cfg.timestampZone))
      .withColumn(Cols.KeyJson, decode(col("key"), "UTF-8"))
      .withColumn(Cols.ValueJson, decode(col("value"), "UTF-8"))
      .withColumn(Cols.Op, CdcOps.mapEntryType(col(Cols.EntryType)))
      .withColumn(Cols.TargetTable, CdcOps.applyIdentifierCase(
        CdcOps.resolveTargetTable(cfg.tableNameFormat, col(Cols.TableName), col("topic")),
        cfg.identifierCase))
      .withColumn(Cols.CorruptReason, coalesce(
        CdcOps.missingHeaderReason(col(Cols.TableName), col(Cols.EntryType),
          cfg.tableHeader, cfg.entryTypeHeader),
        CdcOps.unknownEntryTypeReason(col(Cols.EntryType), col(Cols.Op)),
        CdcOps.shapeReason(col(Cols.Op), col(Cols.KeyJson), col(Cols.ValueJson))))
    assert(projects(oneByOne) - projects(wire) == 9)
    assert(norm.schema == oneByOne.schema)
    assert(norm.queryExecution.optimizedPlan.sameResult(oneByOne.queryExecution.optimizedPlan))
    val rows = (df: DataFrame) => df.drop("key", "value", "headers").collect().toSeq
    assert(rows(norm) == rows(oneByOne))
  }
}
