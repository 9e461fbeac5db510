package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.feeds.CdcFeed
import graft.functions.Timestamps
import graft.model.{Cdc, CdcConfig}
import graft.operators.{CdcNormalize, CdcOps}

/**
 * Driver contract (SURVEY.md §7.1): one `queries` entry per implemented
 * operator from SURVEY.md §2, each with a DuckDB oracle in `oracleSql`.
 *
 * Column names are aligned 1:1 between the Spark result and the oracle
 * SQL (the driver sorts columns by name before hashing). Every query
 * ends in an ORDER BY on a deterministic key so row order can never be
 * a source of mismatch.
 */
object SparkEntry {

  /** Flagship: the batch CDC apply (merge a change feed into a snapshot). */
  def entry(spark: SparkSession): DataFrame =
    queries("q_cdc_apply")(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------
  // Shared Spark-side building blocks
  // ------------------------------------------------------------------

  private val normCfg =
    CdcConfig(tableNameFormat = "sync_${TableName}", identifierCase = "lower")

  /**
   * Wire records → normalized events via the real operator chain,
   * materialized ONCE per (session, dir) and shared by every CDC
   * query. Without the barrier, Catalyst pushes each query's
   * `corrupt_reason`/`op` predicates below the normalize projections
   * and re-inlines the whole header-extraction chain ~20× into a
   * single Filter (observed via explain). JdbcApply.applyBatch needs
   * no such barrier: it filters nothing below its window, and its
   * plan computes the header chain once.
   */
  private val normCache = Tables.registerSessionCache(
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame])
  private def normalized(spark: SparkSession, dir: String): DataFrame =
    normCache.getOrElseUpdate((spark, dir),
      // Raw wire columns (binary key/value, headers array) are fully
      // superseded by the extracted string columns — dropping them
      // before the persist keeps the cache to the working set
      // (materializing them was ~3.5 s of the first CDC query at sf0.1).
      CdcNormalize(CdcFeed.wire(spark, dir), normCfg)
        .drop("key", "value", "headers").persist())

  private val keySchema = StructType.fromDDL("ID BIGINT")

  /** Hottest keys reported per table (q_cdc_hot_keys; shared with oracle). */
  val HotKeysPerTable = 5
  private val valueSchema = StructType.fromDDL("ID BIGINT, AMOUNT DOUBLE")

  /**
   * Valid events with the routing key extracted from the JSON key
   * (DELETEs, C3) or value (UPSERTs, C1/C2) — SURVEY.md §2.5 —
   * narrowed to `offset, table_name, op, k, amount`, cached ONCE per
   * (session, dir) and clustered by `(table_name, k)`: the keyed feed
   * as Kafka serves it, where the topic is partitioned by record key
   * so one key's events already share a partition. Every consumer
   * (`q_cdc_lww`, `q_cdc_apply`, `q_cdc_scd2`, `q_cdc_hot_keys`)
   * windows or groups on `(table_name, k)`, which the cached hash
   * partitioning already satisfies, so none plans a `(table, k)`
   * exchange or parses JSON per query. A hot key lands in one cached
   * partition, as it does in a Kafka partition and in the buckets of
   * [[CdcOps.applyChangesBucketed]]; unclustered inputs (the stream
   * path, direct [[CdcOps.lastWriteWins]] calls) keep the partial
   * WindowGroupLimit before their exchange.
   */
  private val keyedCache = Tables.registerSessionCache(
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame])
  private def keyedValid(spark: SparkSession, dir: String): DataFrame =
    keyedCache.getOrElseUpdate((spark, dir), {
      val valid = normalized(spark, dir).filter(col(Cdc.Cols.CorruptReason).isNull)
      // value_json is parsed ONCE into a struct and both fields read
      // off it (from_json is CodegenFallback, so no codegen CSE merges
      // two per-field parses). DELETE rows have null value_json ->
      // null struct -> null fields, exactly the per-field form's output.
      val v = from_json(col(Cdc.Cols.ValueJson), valueSchema)
      val keyed = valid
        .select(col("offset"), col(Cdc.Cols.TableName), col(Cdc.Cols.Op),
          col(Cdc.Cols.KeyJson), v.as("__v"))
        .select(col("offset"), col(Cdc.Cols.TableName), col(Cdc.Cols.Op),
          when(col(Cdc.Cols.Op) === Cdc.Op.Delete,
            from_json(col(Cdc.Cols.KeyJson), keySchema).getField("ID"))
            .otherwise(col("__v").getField("ID")).as("k"),
          col("__v").getField("AMOUNT").as("amount"))
        .repartition(col(Cdc.Cols.TableName), col("k"))
        .persist()
      // built here, not inside the first consumer: the cache's plan is
      // adaptive, and its hash partitioning is visible to a consumer's
      // planner only once it has run — a consumer planned against the
      // unbuilt cache would re-key by (table, k)
      keyed.count()
      keyed
    })

  // ------------------------------------------------------------------
  // Shared oracle-side building blocks (DuckDB SQL mirrors)
  // ------------------------------------------------------------------

  private def withNorm(body: String): String =
    s"WITH norm AS (${CdcFeed.normalizedSql}) $body"

  private val keyedValidSql: String = s"""
    WITH norm AS (${CdcFeed.normalizedSql}),
    valid AS (SELECT * FROM norm WHERE corrupt_reason IS NULL),
    keyed AS (
      SELECT valid.*,
        CASE WHEN op = 'DELETE'
             THEN CAST(json_extract_string(key_json, '$$.ID') AS BIGINT)
             ELSE CAST(json_extract_string(value_json, '$$.ID') AS BIGINT)
        END AS k,
        CAST(json_extract_string(value_json, '$$.AMOUNT') AS DOUBLE) AS amount
      FROM valid)"""

  // ------------------------------------------------------------------
  // Queries
  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = cdcQueries ++
    graft.text.TextQueries.queries ++
    graft.dedup.DedupQueries.queries ++
    graft.ann.AnnQueries.queries ++
    graft.multimodal.MultimodalQueries.queries ++
    graft.analytics.AnalyticsQueries.queries ++
    graft.analytics.SketchQueries.queries ++
    graft.analytics.ProfileQueries.queries ++
    graft.pipeline.PipelineQueries.queries

  private def cdcQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // H1/H2/P1/P2/P3/T3: full normalize chain over wire records.
    "q_cdc_normalize" -> ((s, dir) =>
      normalized(s, dir).select(
        col("offset").as("offs"), col("topic"),
        col(Cdc.Cols.TableName), col(Cdc.Cols.EntryType), col(Cdc.Cols.Op),
        col(Cdc.Cols.TargetTable), col(Cdc.Cols.CorruptReason),
        col(Cdc.Cols.KeyJson), col(Cdc.Cols.ValueJson))
        .orderBy("offs")),

    // P4/P5/P6: literal table filter + regex topic filter. Runs over
    // the cached normalized feed — a literal `table.name.format`
    // changes only the (constant) target table, so the filters apply
    // directly to the already-extracted header columns.
    "q_cdc_route_filter" -> ((s, dir) => {
      val df1 = CdcOps.tableFilterLiteral(
        normalized(s, dir), col(Cdc.Cols.TableName), "TEST_CLICK")
      CdcOps.topicFilterRegex(df1, col("topic"), Seq(".*SRC[01]$"))
        .select(col("offset").as("offs"), col(Cdc.Cols.TableName),
          col("topic"), lit("TEST_CLICK").as(Cdc.Cols.TargetTable))
        .orderBy("offs")
    }),

    // P8/W13: DELETE → tombstone rewrite.
    "q_cdc_tombstone" -> ((s, dir) =>
      normalized(s, dir).filter(col(Cdc.Cols.CorruptReason).isNull)
        .select(col("offset").as("offs"), col(Cdc.Cols.Op),
          CdcOps.tombstoneValue(col(Cdc.Cols.Op), col(Cdc.Cols.ValueJson))
            .as(Cdc.Cols.ValueJson))
        .orderBy("offs")),

    // G1/G2 + ordering: last-write-wins collapse per (table, key).
    "q_cdc_lww" -> ((s, dir) =>
      CdcOps.lastWriteWins(keyedValid(s, dir), Cdc.Cols.TableName, Seq("k"), "offset")
        .select(col(Cdc.Cols.TableName), col("k"),
          col("offset").as("offs"), col(Cdc.Cols.Op), col("amount"))
        .orderBy(Cdc.Cols.TableName, "k")),

    // Flagship M1: fold the collapsed change-set into the orders snapshot.
    "q_cdc_apply" -> ((s, dir) => {
      val snapshot = Tables(s, dir, "orders")
      val changes0 = keyedValid(s, dir)
        .filter(col(Cdc.Cols.TableName) === "TEST_PURCHASE")
      val lww = CdcOps.lastWriteWins(changes0, Cdc.Cols.TableName, Seq("k"), "offset")
      val changes = lww.select(
        col("k").as("o_orderkey"),
        (col("k") % 100).as("o_custkey"),
        lit("U").as("o_orderstatus"),
        col("amount").as("o_totalprice"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("o_orderdate"),
        lit("CDC-UPSERT").as("o_orderpriority"),
        col(Cdc.Cols.Op))
      CdcOps.applyChanges(snapshot, changes, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // SCD Type-2 history: every UPSERT opens a version, the next event
    // on the key closes it; DELETEs close without opening.
    "q_cdc_scd2" -> ((s, dir) =>
      CdcOps.scd2History(keyedValid(s, dir), Cdc.Cols.TableName, Seq("k"), "offset", Cdc.Cols.Op)
        .select(col(Cdc.Cols.TableName), col("k"), col("amount"),
          col("valid_from_offs"), col("valid_to_offs"), col("version"),
          col("is_current"), col("closed_by_delete"))
        .orderBy(Cdc.Cols.TableName, "k", "valid_from_offs")),

    // Hot-key audit: events per (table, key), top-HotKeysPerTable
    // hottest keys each — the skew report that decides when a key
    // needs Skew.saltedJoin / AQE skew handling before the apply.
    // Rank filter plans partial+final WindowGroupLimit: the shuffle
    // carries O(tables · k) rows, not the key histogram.
    "q_cdc_hot_keys" -> ((s, dir) => {
      val counts = keyedValid(s, dir)
        .groupBy(col(Cdc.Cols.TableName), col("k"))
        .agg(count(lit(1)).as("n_events"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(Cdc.Cols.TableName)
        .orderBy(col("n_events").desc, col("k"))
      counts.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= HotKeysPerTable)
        .orderBy(Cdc.Cols.TableName, "rnk")
    }),

    // Offset-continuity audit: within-partition offsets (offs div 8 is
    // dense per kpart in the synthetic feed) with every 101st record
    // "lost" — the gap report a consumer reconciles against upstream
    // acks. Healthy stream ⇒ empty output.
    "q_cdc_offset_gaps" -> ((s, dir) =>
      CdcOps.offsetGaps(
        CdcFeed.base(s, dir)
          .where(col("offs") % 101 =!= 5)
          .select(col("kpart"), expr("offs div 8").as("poffset")),
        Seq("kpart"), "poffset")
        .orderBy("kpart", "gap_start")),

    // Reverse CDC: diff two orders snapshots into the I/U/D change set
    // (bootstrap for log-less sources; reconciliation audit otherwise).
    // Old/new are deterministic derivations of the same table: key%13=3
    // rows are missing from old (→ I), key%17=5 rows are missing from
    // new (→ D), key%11=0 rows carry a perturbed price in old (→ U).
    "q_cdc_snapshot_diff" -> ((s, dir) => {
      import graft.operators.SnapshotDiff
      val orders = Tables(s, dir, "orders")
      val k = col("o_orderkey")
      val oldSnap = orders.filter(k % 13 =!= 3)
        .withColumn("o_totalprice",
          when(k % 11 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")))
      val newSnap = orders.filter(k % 17 =!= 5)
      SnapshotDiff.diff(oldSnap, newSnap, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // W11/T6: corrupt-event dead-letter channel.
    "q_cdc_dlq" -> ((s, dir) => {
      val n = normalized(s, dir)
      def jstr(c: Column) = coalesce(concat(lit("\""), c, lit("\"")), lit("null"))
      val headersJson = concat(
        lit("{\"TableName\":"), jstr(col(Cdc.Cols.TableName)),
        lit(",\"A_ENTTYP\":"), jstr(col(Cdc.Cols.EntryType)),
        lit(",\"A_TIMSTAMP\":\""), col(Cdc.Cols.SourceTs), lit("\"}"))
      CdcOps.toCorruptEvents(n, col("topic"), col("partition"), col("offset"),
        col(Cdc.Cols.KeyJson), col(Cdc.Cols.ValueJson), headersJson,
        col(Cdc.Cols.CorruptReason), col(Cdc.Cols.TableName), col(Cdc.Cols.EntryType))
        .orderBy("kafka_offset")
    }),

    // T1: A_TIMSTAMP (12-digit fraction) → ISO-8601 with zone offset.
    "q_cdc_ts_iso" -> ((s, dir) =>
      CdcFeed.base(s, dir).select(
        col("offs"), col("ats"),
        Timestamps.iidrTimestampToIso(col("ats"), "+08:00").as("iso"))
        .orderBy("offs")),

    // T1 named-zone path: offset resolved from the zone DATABASE per
    // instant (Asia/Taipei here — a no-DST zone, because DuckDB's ICU
    // resolves DST-overlap wall times to the post-transition offset
    // while java.time keeps the pre-transition one; DST correctness is
    // pinned against java.time in OperatorsSpec instead).
    "q_cdc_ts_iso_zone" -> ((s, dir) =>
      CdcFeed.base(s, dir).select(
        col("offs"), col("ats"),
        Timestamps.iidrTimestampToIsoZoned(col("ats"), "Asia/Taipei").as("iso"))
        .orderBy("offs")),

    // T2: multi-pattern temporal coercion.
    "q_cdc_temporal_coerce" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val sec = date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")
      val ms = lpad((col("event_id") % 1000).cast("string"), 3, "0")
      val raw = when(col("event_id") % 5 === 0, sec)
        .when(col("event_id") % 5 === 1, date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"))
        .when(col("event_id") % 5 === 2, concat(sec, lit("."), ms))
        .when(col("event_id") % 5 === 3, date_format(col("ts"), "yyyy-MM-dd"))
        .otherwise(lit(""))
      ev.select(
        col("event_id").as("offs"),
        raw.as("raw"),
        Timestamps.coerceTimestamp(raw).as("coerced"),
        Timestamps.coerceDate(sec).as("d"),
        Timestamps.coerceTime(date_format(col("ts"), "HH:mm:ss")).as("t"))
        .orderBy("offs")
    }),

    // field.type.overrides (T2 config path): STRING fields forced to
    // timestamp/date/time via the reference's pattern lists; a
    // non-blank unparseable value produces the corrupt-channel reason
    // instead of a silent null.
    "q_cdc_type_overrides" -> ((s, dir) => {
      import graft.operators.TypeOverrides
      val f = CdcFeed.base(s, dir)
      val d19 = substring(col("ats"), 1, 19)
      val ms = lpad((col("offs") % 1000).cast("string"), 3, "0")
      val createdRaw = when(col("offs") % 37 === 0, lit("not a timestamp"))
        .when(col("offs") % 4 === 0, concat(d19, lit("."), ms))
        .when(col("offs") % 4 === 1, regexp_replace(d19, " ", "T"))
        .when(col("offs") % 4 === 2, d19)
        .otherwise(concat(regexp_replace(d19, " ", "T"), lit("."), ms))
      val dateRaw = when(col("offs") % 41 === 0, lit("2026-13-99"))
        .otherwise(substring(col("ats"), 1, 10))
      val timeRaw = when(col("offs") % 43 === 0, lit("25:99:00"))
        .otherwise(substring(col("ats"), 12, 8))
      // Interval wire forms (graft extension): every branch the
      // coercion accepts — Oracle literals (signed and unsigned), bare
      // and zero-tailed ISO periods — plus an impossible literal that
      // must REJECT into the reason channel, all derived from offs so
      // the DuckDB oracle can re-render the exact cast-to-string
      // output with integer arithmetic.
      val (y, m) = ((col("offs") % 8).cast("string"), (col("offs") % 12).cast("string"))
      val ymRaw = when(col("offs") % 53 === 0, lit("1-45"))
        .when(col("offs") % 5 === 0, concat(y, lit("-"), m))
        .when(col("offs") % 5 === 1, concat(lit("P"), y, lit("Y"), m, lit("M")))
        .when(col("offs") % 5 === 2, concat(lit("P"), y, lit("Y"), m, lit("M0DT0H0M0S")))
        .when(col("offs") % 5 === 3, concat(lit("-"), y, lit("-"), m))
        .otherwise(concat(lit("+"), y, lit("-"), m))
      val (dd, hh) = ((col("offs") % 30).cast("string"), (col("offs") % 24).cast("string"))
      val (mi, sec) = ((col("offs") % 60).cast("string"), (col("offs") * 7 % 60).cast("string"))
      val dsRaw = when(col("offs") % 59 === 0, lit("0 99:00:00"))
        .when(col("offs") % 5 === 0, concat(dd, lit(" "), hh, lit(":"), mi, lit(":"), sec))
        .when(col("offs") % 5 === 1,
          concat(lit("P"), dd, lit("DT"), hh, lit("H"), mi, lit("M"), sec, lit("S")))
        .when(col("offs") % 5 === 2, concat(lit("PT"), hh, lit("H")))
        .when(col("offs") % 5 === 3,
          concat(lit("-"), dd, lit(" "), hh, lit(":"), mi, lit(":"), sec))
        .otherwise(concat(lit("+"), dd, lit(" "), hh, lit(":"), mi, lit(":"), sec))
      // planBarrier = a CODEGEN BARRIER, not a materialization: the
      // coercions re-inline every reference to their raw input, and
      // five when-chain raws × (coerce + failureReason) in ONE
      // projection blew janino's 64KB method limit (observed: 1s → 8s
      // interpreted fallback). Behind the barrier each coerce sees a
      // plain attribute, so both codegen stages stay small; the rows
      // still stream through in a single pass (no cache, no shuffle,
      // no InternalRow↔Row conversion — GraftShims.planBarrier).
      val rawDf = f.select(col("offs"), createdRaw.as("created_raw"),
        dateRaw.as("date_raw"), timeRaw.as("time_raw"),
        ymRaw.as("ym_raw"), dsRaw.as("ds_raw"))
      val raw = org.apache.spark.sql.graftshim.GraftShims.planBarrier(rawDf)
      raw.select(
        col("offs"),
        TypeOverrides.coerce(col("created_raw"), "timestamp").as("created_at"),
        TypeOverrides.coerce(col("date_raw"), "date").as("order_date"),
        TypeOverrides.coerce(col("time_raw"), "time").as("event_time"),
        TypeOverrides.coerce(col("ym_raw"), "interval_ym").cast("string").as("ym_iv"),
        TypeOverrides.coerce(col("ds_raw"), "interval_ds").cast("string").as("ds_iv"),
        coalesce(
          TypeOverrides.failureReason(col("created_raw"), "timestamp"),
          TypeOverrides.failureReason(col("date_raw"), "date"),
          TypeOverrides.failureReason(col("time_raw"), "time"),
          TypeOverrides.failureReason(col("ym_raw"), "interval_ym"),
          TypeOverrides.failureReason(col("ds_raw"), "interval_ds")).as("reason"))
        .orderBy("offs")
    }),

    // C1/C2/C3: JSON → typed struct materialization. Parsing goes
    // through DECIMAL(12,2) (the operator's contract), but the emitted
    // column is the decimal cast to DOUBLE: the decimal value is exact
    // on both engines, so the cast is deterministic — whereas emitting
    // the decimal itself fails the driver's hash on textual scale
    // ('137869.00' vs float64 '137869.0', VERDICT r1 §wrong-1).
    "q_cdc_schema_infer" -> ((s, dir) =>
      CdcFeed.base(s, dir).select(
        col("offs"),
        from_json(col("key_json"), keySchema).getField("ID").as("key_id"),
        from_json(col("value_json"), StructType.fromDDL("ID BIGINT, AMOUNT DECIMAL(12,2)"))
          .getField("ID").as("val_id"),
        from_json(col("value_json"), StructType.fromDDL("ID BIGINT, AMOUNT DECIMAL(12,2)"))
          .getField("AMOUNT").cast("double").as("amount"))
        .orderBy("offs")),

    // C1 runtime fallback: the value schema INFERRED from the feed's
    // own payloads (SMT value-type ladder: int→BIGINT, float→DOUBLE,
    // bool, else STRING) must parse identically to the pinned schema.
    // A field ABSENT from the inferred schema (an empty feed infers an
    // empty struct; a source that never sent the column) reads as a
    // typed null — the same answer the SMT's sink gives a missing
    // column — instead of failing the plan on getField.
    "q_cdc_infer_fallback" -> ((s, dir) => {
      val base = CdcFeed.base(s, dir)
      val inferred = graft.operators.SchemaInfer.infer(s, base, "value_json")
      // the presence check must match getField's CASE-INSENSITIVE
      // resolution (spark.sql.caseSensitive=false default) — an exact
      // contains() would null out fields whose JSON keys differ in case
      def fieldOrNull(name: String, dt: String) =
        if (inferred.fieldNames.exists(_.equalsIgnoreCase(name)))
          from_json(col("value_json"), inferred).getField(name).cast(dt)
        else lit(null).cast(dt)
      base.select(
        col("offs"),
        fieldOrNull("ID", "bigint").as("val_id"),
        fieldOrNull("AMOUNT", "double").as("amount"))
        .orderBy("offs")
    }),

    // T4: legacy charset (Big5) halfwidth recovery — custom Catalyst expression.
    "q_cdc_charset_decode" -> ((s, dir) => {
      import s.implicits._
      CharsetFixture.mangled.toDF("id", "mangled")
        .select(col("id"),
          GraftFunctions.legacyCharsetDecode(col("mangled"), "Big5").as("decoded"))
        .orderBy("id")
    }),

    // S6/T5: Debezium envelope parse → op map → unwrap (before for
    // deletes, after otherwise).
    "q_cdc_envelope" -> ((s, dir) => {
      import graft.operators.Envelope
      val rowSchema = StructType.fromDDL("ID BIGINT, AMOUNT DOUBLE")
      val base = CdcFeed.base(s, dir)
      val isDel = (col("offs") % 10).isin(7, 8)
      val dop = when(isDel, "d").when(col("offs") % 2 === 0, "c").otherwise("u")
      val envJson = concat(
        lit("{\"before\":"), coalesce(when(isDel, col("key_json")), lit("null")),
        lit(",\"after\":"), coalesce(when(!isDel, col("value_json")), lit("null")),
        lit(",\"op\":\""), dop, lit("\",\"ts_ms\":"), col("offs"), lit("}"))
      val env = Envelope.parse(envJson, rowSchema)
      base.select(
        col("offs"),
        env.getField("op").as("dop"),
        Envelope.mapDebeziumOp(env.getField("op")).as("op"),
        Envelope.unwrap(env).getField("ID").as("id"),
        Envelope.unwrap(env).getField("AMOUNT").as("amount"),
        env.getField("ts_ms").as("ts_ms"))
        .orderBy("offs")
    }),

    // S4: Debezium MongoDB source path — envelope with the full new
    // document as a JSON-encoded STRING in `after` (extended JSON
    // _id), unwrapped via ExtractNewDocumentState semantics (deletes
    // dropped), id routed from the $oid wrapper.
    "q_cdc_mongo_extract" -> ((s, dir) => {
      import graft.operators.Envelope
      val base = CdcFeed.base(s, dir)
      val isDel = (col("offs") % 10).isin(7, 8)
      val dop = when(isDel, "d").when(col("offs") % 2 === 0, "c").otherwise("u")
      val oid = substring(md5(col("k").cast("string")), 1, 24)
      val doc = concat(
        lit("{\"_id\":{\"$oid\":\""), oid, lit("\"},\"AMOUNT\":"),
        coalesce(col("value").cast("decimal(12,2)").cast("string"), lit("null")),
        lit("}"))
      val env = concat(
        lit("{\"after\":\""), regexp_replace(doc, "\"", "\\\\\""),
        lit("\",\"op\":\""), dop, lit("\",\"ts_ms\":"), col("offs"), lit("}"))
      val newDoc = Envelope.extractNewDocumentState(env)
      base.select(
        col("offs"), dop.as("dop"), newDoc.as("doc"),
        regexp_extract(newDoc, "\"\\$oid\":\"([0-9a-f]+)\"", 1).as("oid"))
        .orderBy("offs")
    }),

    // S6 wrapper + decimal.handling.mode: parse the schemas.enable=true
    // wire form, extract AMOUNT under precise/double/string modes.
    "q_cdc_decimal_modes" -> ((s, dir) => {
      import graft.operators.Envelope
      val base = StructType.fromDDL("ID BIGINT, AMOUNT DECIMAL(12,2)")
      val feed = CdcFeed.base(s, dir).filter(col("value_json").isNotNull)
      val wrapped = concat(
        lit("{\"schema\":{},\"payload\":{\"before\":null,\"after\":"),
        col("value_json"), lit(",\"op\":\"u\",\"ts_ms\":"),
        col("offs"), lit("}}"))
      def amt(mode: String) =
        Envelope.parseWrapped(wrapped, Envelope.rowSchemaForDecimalMode(base, mode))
          .getField("after").getField("AMOUNT")
      // `precise` mode parses through DECIMAL(12,2) but is emitted as
      // DOUBLE (deterministic cast of an exact decimal); the lossless
      // textual form stays visible via `amt_string`.
      feed.select(
        col("offs"),
        amt("precise").cast("double").as("amt_precise"),
        amt("double").as("amt_double"),
        amt("string").as("amt_string"))
        .orderBy("offs")
    }),

    // Classic scan→filter→agg (engine sanity + bench headline).
    // Aggregation stays in DECIMAL (exact, order-independent sums) but
    // the final columns are cast to DOUBLE: an exact decimal casts to
    // the same nearest float64 on Spark and DuckDB, so the driver's
    // value hash matches — summing doubles directly would not be
    // order-deterministic, and emitting decimals fails on text scale.
    // BOUND: "same nearest float64" holds while the UNSCALED decimal
    // fits in 2^53 — DuckDB computes decimal→double as unscaled/10^s
    // (two roundings) where Spark's BigDecimal.doubleValue rounds
    // once, so e.g. a DECIMAL(18,6) sum past ~9e9 in value can drift
    // one ulp. sf0.01/0.1 sums sit orders of magnitude below that; at
    // larger SFs reduce the scale before the cast (sum to (18,2)).
    "q1_agg" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(14,2)")).cast("double")
            .as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")))

  // ------------------------------------------------------------------
  // Oracle SQL (DuckDB dialect mirrors; same column names + ORDER BY)
  // ------------------------------------------------------------------

  def oracleSql: Map[String, String] = cdcOracleSql ++
    graft.text.TextQueries.oracleSql ++
    graft.dedup.DedupQueries.oracleSql ++
    graft.ann.AnnQueries.oracleSql ++
    graft.multimodal.MultimodalQueries.oracleSql ++
    graft.analytics.AnalyticsQueries.oracleSql ++
    graft.analytics.SketchQueries.oracleSql ++
    graft.analytics.ProfileQueries.oracleSql ++
    graft.pipeline.PipelineQueries.oracleSql

  private def cdcOracleSql: Map[String, String] = Map(

    "q_cdc_normalize" -> withNorm(
      """SELECT offs, topic, table_name, entry_type, op, target_table,
           corrupt_reason, key_json, value_json
         FROM norm ORDER BY offs"""),

    "q_cdc_route_filter" -> withNorm(
      """SELECT offs, table_name, topic, 'TEST_CLICK' AS target_table
         FROM norm
         WHERE table_name = 'TEST_CLICK' AND regexp_matches(topic, '.*SRC[01]$')
         ORDER BY offs"""),

    "q_cdc_tombstone" -> withNorm(
      """SELECT offs, op,
           CASE WHEN op = 'DELETE' THEN NULL ELSE value_json END AS value_json
         FROM norm WHERE corrupt_reason IS NULL ORDER BY offs"""),

    "q_cdc_lww" -> (keyedValidSql + """
      SELECT table_name, k, offs, op, amount FROM keyed
      QUALIFY row_number() OVER (PARTITION BY table_name, k ORDER BY offs DESC) = 1
      ORDER BY table_name, k"""),

    "q_cdc_apply" -> (keyedValidSql + """,
      lw AS (
        SELECT * FROM keyed WHERE table_name = 'TEST_PURCHASE'
        QUALIFY row_number() OVER (PARTITION BY table_name, k ORDER BY offs DESC) = 1),
      up AS (
        SELECT k AS o_orderkey, k % 100 AS o_custkey, 'U' AS o_orderstatus,
               amount AS o_totalprice,
               TIMESTAMP '2026-01-01 00:00:00' AS o_orderdate,
               'CDC-UPSERT' AS o_orderpriority
        FROM lw WHERE op = 'UPSERT'),
      touched AS (SELECT DISTINCT k FROM lw)
      SELECT * FROM (
        SELECT o.* FROM orders o LEFT JOIN touched ON o.o_orderkey = touched.k
        WHERE touched.k IS NULL
        UNION ALL SELECT * FROM up)
      ORDER BY o_orderkey"""),

    "q_cdc_scd2" -> (keyedValidSql + """,
      versions AS (
        SELECT table_name, k, offs, op, amount,
               lead(offs) OVER w AS valid_to_offs,
               COALESCE(lead(op) OVER w = 'DELETE', FALSE) AS closed_by_delete
        FROM keyed
        WINDOW w AS (PARTITION BY table_name, k ORDER BY offs))
      SELECT table_name, k, amount, offs AS valid_from_offs, valid_to_offs,
             CAST(row_number() OVER (PARTITION BY table_name, k ORDER BY offs) AS BIGINT)
               AS version,
             (valid_to_offs IS NULL) AS is_current, closed_by_delete
      FROM versions WHERE op = 'UPSERT'
      ORDER BY table_name, k, valid_from_offs"""),

    "q_cdc_hot_keys" -> (keyedValidSql + s""",
      c AS (
        SELECT table_name, k, count(*) AS n_events
        FROM keyed GROUP BY table_name, k),
      r AS (
        SELECT table_name, k, n_events,
          row_number() OVER (PARTITION BY table_name
            ORDER BY n_events DESC, k) AS rnk
        FROM c)
      SELECT table_name, k, n_events, rnk FROM r
      WHERE rnk <= $HotKeysPerTable ORDER BY table_name, rnk"""),

    "q_cdc_offset_gaps" -> s"""
      WITH feed AS (${CdcFeed.feedSql}),
      f AS (
        SELECT kpart, offs // 8 AS poffset FROM feed
        WHERE offs % 101 <> 5),
      l AS (
        SELECT kpart, poffset,
          lag(poffset) OVER (PARTITION BY kpart ORDER BY poffset) AS prev
        FROM f)
      SELECT kpart, prev + 1 AS gap_start, poffset - 1 AS gap_end,
        poffset - prev - 1 AS missing
      FROM l WHERE prev IS NOT NULL AND poffset > prev + 1
      ORDER BY kpart, gap_start""",

    "q_cdc_snapshot_diff" -> """
      WITH o AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1
               ELSE o_totalprice END AS o_totalprice,
          o_orderstatus
        FROM orders WHERE o_orderkey % 13 <> 3),
      n AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 17 <> 5),
      j AS (
        SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
          CASE WHEN o.o_orderkey IS NULL THEN 'I'
               WHEN n.o_orderkey IS NULL THEN 'D'
               WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                 OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
               THEN 'U' END AS op,
          CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_orderstatus
               ELSE o.o_orderstatus END AS o_orderstatus,
          CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_totalprice
               ELSE o.o_totalprice END AS o_totalprice
        FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey)
      SELECT o_orderkey, op, o_orderstatus, o_totalprice
      FROM j WHERE op IS NOT NULL ORDER BY o_orderkey""",

    "q_cdc_dlq" -> withNorm(
      """SELECT topic, kpart AS kafka_partition, offs AS kafka_offset,
           key_json AS record_key, value_json AS record_value,
           '{"TableName":' || COALESCE('"' || table_name || '"', 'null') ||
           ',"A_ENTTYP":' || COALESCE('"' || entry_type || '"', 'null') ||
           ',"A_TIMSTAMP":"' || ats || '"}' AS headers,
           SUBSTR(corrupt_reason, 1, 1000) AS error_reason,
           table_name, entry_type
         FROM norm WHERE corrupt_reason IS NOT NULL ORDER BY kafka_offset"""),

    "q_cdc_ts_iso" -> s"""
      WITH feed AS (${CdcFeed.feedSql})
      SELECT offs, ats,
        SUBSTR(ats, 1, 10) || 'T' || SUBSTR(ats, 12, 8) || '.' ||
          SUBSTR(ats, 21, 6) || '+08:00' AS iso
      FROM feed ORDER BY offs""",

    "q_cdc_ts_iso_zone" -> s"""
      WITH feed AS (${CdcFeed.feedSql}),
      o AS (
        SELECT offs, ats,
          CAST(epoch(CAST(substr(ats, 1, 19) AS TIMESTAMP))
             - epoch(timezone('Asia/Taipei',
                              CAST(substr(ats, 1, 19) AS TIMESTAMP)))
             AS BIGINT) AS offsec
        FROM feed)
      SELECT offs, ats,
        substr(ats, 1, 10) || 'T' || substr(ats, 12, 8) || '.' ||
        substr(ats, 21, 6) ||
        (CASE WHEN offsec < 0 THEN '-' ELSE '+' END) ||
        lpad(CAST(abs(offsec) // 3600 AS VARCHAR), 2, '0') || ':' ||
        lpad(CAST((abs(offsec) // 60) % 60 AS VARCHAR), 2, '0') AS iso
      FROM o ORDER BY offs""",

    "q_cdc_temporal_coerce" -> """
      WITH r AS (
        SELECT event_id AS offs,
          CASE CAST(event_id % 5 AS INT)
            WHEN 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
            WHEN 1 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
            WHEN 2 THEN strftime(ts, '%Y-%m-%d %H:%M:%S') || '.' ||
                        lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0')
            WHEN 3 THEN strftime(ts, '%Y-%m-%d')
            ELSE '' END AS raw,
          strftime(ts, '%Y-%m-%d') AS dstr,
          strftime(ts, '%H:%M:%S') AS tstr
        FROM events)
      SELECT offs, raw,
        CASE WHEN regexp_matches(raw,
               '^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(\.\d{3})?$')
             THEN CAST(replace(raw, 'T', ' ') AS TIMESTAMP) END AS coerced,
        CAST(dstr AS DATE) AS d,
        tstr AS t
      FROM r ORDER BY offs""",

    "q_cdc_type_overrides" -> s"""
      WITH feed AS (${CdcFeed.feedSql}),
      r AS (
        SELECT offs,
          CASE WHEN offs % 37 = 0 THEN 'not a timestamp'
               WHEN offs % 4 = 0 THEN substr(ats, 1, 19) || '.' ||
                    lpad(CAST(offs % 1000 AS VARCHAR), 3, '0')
               WHEN offs % 4 = 1 THEN replace(substr(ats, 1, 19), ' ', 'T')
               WHEN offs % 4 = 2 THEN substr(ats, 1, 19)
               ELSE replace(substr(ats, 1, 19), ' ', 'T') || '.' ||
                    lpad(CAST(offs % 1000 AS VARCHAR), 3, '0') END AS created_raw,
          CASE WHEN offs % 41 = 0 THEN '2026-13-99'
               ELSE substr(ats, 1, 10) END AS date_raw,
          CASE WHEN offs % 43 = 0 THEN '25:99:00'
               ELSE substr(ats, 12, 8) END AS time_raw
        FROM feed),
      c AS (
        SELECT offs, created_raw, date_raw, time_raw,
          TRY_CAST(replace(created_raw, 'T', ' ') AS TIMESTAMP) AS created_at,
          TRY_CAST(date_raw AS DATE) AS order_date,
          TRY_CAST('1970-01-01 ' || time_raw AS TIMESTAMP) AS t0
        FROM r)
      SELECT offs, created_at, order_date,
        CASE WHEN t0 IS NULL THEN NULL
             ELSE strftime(t0, '%H:%M:%S') || '.000' END AS event_time,
        -- interval columns re-render Spark's cast-to-string output
        -- ("INTERVAL 'y-m' YEAR TO MONTH") from the same offs
        -- arithmetic; months stay <= 11 so no carry normalization,
        -- and a negative-signed all-zero interval renders POSITIVE
        -- (Period/Duration have no negative zero)
        CASE WHEN offs % 53 = 0 THEN NULL
             WHEN offs % 5 = 3 AND offs % 8 + offs % 12 > 0
               THEN 'INTERVAL ''-' || (offs % 8) || '-' || (offs % 12)
                    || ''' YEAR TO MONTH'
             ELSE 'INTERVAL ''' || (offs % 8) || '-' || (offs % 12)
                  || ''' YEAR TO MONTH' END AS ym_iv,
        CASE WHEN offs % 59 = 0 THEN NULL
             WHEN offs % 5 = 2
               THEN 'INTERVAL ''0 ' || lpad(CAST(offs % 24 AS VARCHAR), 2, '0')
                    || ':00:00'' DAY TO SECOND'
             WHEN offs % 5 = 3
               THEN 'INTERVAL ''-' || (offs % 30) || ' '
                    || lpad(CAST(offs % 24 AS VARCHAR), 2, '0') || ':'
                    || lpad(CAST(offs % 60 AS VARCHAR), 2, '0') || ':'
                    || lpad(CAST(offs * 7 % 60 AS VARCHAR), 2, '0')
                    || ''' DAY TO SECOND'
             ELSE 'INTERVAL ''' || (offs % 30) || ' '
                  || lpad(CAST(offs % 24 AS VARCHAR), 2, '0') || ':'
                  || lpad(CAST(offs % 60 AS VARCHAR), 2, '0') || ':'
                  || lpad(CAST(offs * 7 % 60 AS VARCHAR), 2, '0')
                  || ''' DAY TO SECOND' END AS ds_iv,
        COALESCE(
          CASE WHEN created_at IS NULL
               THEN 'Cannot parse ''' || created_raw || ''' as timestamp' END,
          CASE WHEN order_date IS NULL
               THEN 'Cannot parse ''' || date_raw || ''' as date' END,
          CASE WHEN t0 IS NULL
               THEN 'Cannot parse ''' || time_raw || ''' as time' END,
          CASE WHEN offs % 53 = 0
               THEN 'Cannot parse ''1-45'' as interval_ym' END,
          CASE WHEN offs % 59 = 0
               THEN 'Cannot parse ''0 99:00:00'' as interval_ds' END) AS reason
      FROM c ORDER BY offs""",

    "q_cdc_schema_infer" -> s"""
      WITH feed AS (${CdcFeed.feedSql})
      SELECT offs,
        CAST(json_extract_string(key_json, '$$.ID') AS BIGINT) AS key_id,
        CAST(json_extract_string(value_json, '$$.ID') AS BIGINT) AS val_id,
        CAST(CAST(json_extract_string(value_json, '$$.AMOUNT') AS DECIMAL(12,2))
             AS DOUBLE) AS amount
      FROM feed ORDER BY offs""",

    // Inferred AMOUNT is a JSON double: text → nearest float64 is
    // correctly rounded on both engines (same convention as
    // q_cdc_decimal_modes amt_double).
    "q_cdc_infer_fallback" -> s"""
      WITH feed AS (${CdcFeed.feedSql})
      SELECT offs,
        CAST(json_extract_string(value_json, '$$.ID') AS BIGINT) AS val_id,
        CAST(json_extract_string(value_json, '$$.AMOUNT') AS DOUBLE) AS amount
      FROM feed ORDER BY offs""",

    "q_cdc_charset_decode" -> CharsetFixture.oracleSql,

    "q_cdc_envelope" -> s"""
      WITH feed AS (${CdcFeed.feedSql}),
      env AS (
        SELECT offs,
          CASE WHEN CAST(offs % 10 AS INT) IN (7, 8) THEN 'd'
               WHEN offs % 2 = 0 THEN 'c' ELSE 'u' END AS dop,
          CASE WHEN CAST(offs % 10 AS INT) IN (7, 8) THEN key_json
               ELSE NULL END AS before_json,
          CASE WHEN CAST(offs % 10 AS INT) IN (7, 8) THEN NULL
               ELSE value_json END AS after_json
        FROM feed)
      SELECT offs, dop,
        CASE WHEN dop IN ('c', 'u', 'r') THEN 'UPSERT'
             WHEN dop = 'd' THEN 'DELETE' END AS op,
        CAST(json_extract_string(
          CASE WHEN dop = 'd' THEN before_json ELSE after_json END, '$$.ID')
          AS BIGINT) AS id,
        CAST(json_extract_string(
          CASE WHEN dop = 'd' THEN before_json ELSE after_json END, '$$.AMOUNT')
          AS DOUBLE) AS amount,
        offs AS ts_ms
      FROM env ORDER BY offs""",

    // Oracle = the SMT's spec, not its mechanics: for c/u/r the output
    // IS the embedded document (the escape/unescape roundtrip on the
    // Spark side must be lossless), for d it is NULL (dropped).
    "q_cdc_mongo_extract" -> s"""
      WITH feed AS (${CdcFeed.feedSql}),
      e AS (
        SELECT offs,
          CASE WHEN CAST(offs % 10 AS INT) IN (7, 8) THEN 'd'
               WHEN offs % 2 = 0 THEN 'c' ELSE 'u' END AS dop,
          '{"_id":{"$$oid":"' || substr(md5(CAST(k AS VARCHAR)), 1, 24) ||
            '"},"AMOUNT":' ||
            COALESCE(CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR), 'null') ||
            '}' AS d0
        FROM feed)
      SELECT offs, dop,
        CASE WHEN dop IN ('c', 'u', 'r') THEN d0 END AS doc,
        CASE WHEN dop IN ('c', 'u', 'r')
             THEN regexp_extract(d0, '"\\$$oid":"([0-9a-f]+)"', 1) END AS oid
      FROM e ORDER BY offs""",

    "q_cdc_decimal_modes" -> s"""
      WITH feed AS (${CdcFeed.feedSql})
      SELECT offs,
        CAST(CAST(json_extract_string(value_json, '$$.AMOUNT') AS DECIMAL(12,2))
             AS DOUBLE) AS amt_precise,
        CAST(json_extract_string(value_json, '$$.AMOUNT') AS DOUBLE) AS amt_double,
        json_extract_string(value_json, '$$.AMOUNT') AS amt_string
      FROM feed WHERE value_json IS NOT NULL ORDER BY offs""",

    "q1_agg" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
             AS DOUBLE) AS sum_disc_price,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")
}

/**
 * Big5 halfwidth-mangling fixture (SURVEY.md §5.4; byte table from the
 * reference's docker/README.md:336-348, e.g. 測=B4FA→U+FFB4 U+FFFA).
 * `mangled` is what Oracle-JDBC-over-US7ASCII delivers; the oracle SQL
 * carries the expected recovered text.
 */
object CharsetFixture {
  val mangled: Seq[(Int, String)] = Seq(
    1 -> "ﾴ￺ﾸￕ",
    2 -> "ﾥxﾥ_ﾥﾫ",
    3 -> "ﾧAﾦn",
    4 -> "ﾣtﾣuﾣvﾣw",
    5 -> "ﾢￏﾢ￐ﾢ￑ﾢￒ",
    6 -> "ABCﾴ￺ﾸￕ123",
    7 -> "hello world")

  val expected: Seq[(Int, String)] = Seq(
    1 -> "測試", 2 -> "台北市", 3 -> "你好", 4 -> "ㄅㄆㄇㄈ",
    5 -> "ＡＢＣＤ", 6 -> "ABC測試123", 7 -> "hello world")

  val oracleSql: String =
    "SELECT * FROM (VALUES " +
      expected.map { case (i, s) => s"($i, '$s')" }.mkString(", ") +
      ") AS t(id, decoded) ORDER BY id"
}
