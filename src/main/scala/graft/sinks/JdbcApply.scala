package graft.sinks

import java.sql.{Connection, DriverManager}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.RowProjection
import org.apache.spark.sql.types._

import graft.model.Cdc
import graft.operators.{CdcOps, SchemaInfer, TypeOverrides}

/**
 * Batch CDC → JDBC apply: the Spark rebuild of the reference's
 * JdbcWriter + IidrCdcSinkTask write path (JdbcWriter.java:38-174,
 * IidrCdcSinkTask.java:94-155), designed to be called from
 * `foreachBatch` (streaming) or directly (batch backfill).
 *
 * Scale shape per micro-batch — ONE Spark job on one task for any
 * number of tables, like the reference's single task that applies a
 * whole poll (IidrCdcSinkTask.java:94-155, 236-264). The batch is read
 * once, coalesced to one partition, so last-write-wins on (table, pk),
 * the order-insensitive equivalent of offset-order apply (SURVEY.md
 * §2.6), needs no exchange and no two connections race on a key. The
 * task meets the corrupt and skipped rows (no resolvable PK,
 * unconfigured table) first: it counts them and dead-letters the
 * corrupt ones. Then it parses each data row with its table's
 * `from_json` projection ([[RowProjection]]) and upserts or deletes
 * it — unless tolerance=none met a corrupt row: then the batch writes
 * its DLQ rows alone and fails. One JDBC transaction covers every
 * table and the DLQ, with PS reuse, `addBatch`/`executeBatch` every
 * `batchSize` rows (JdbcWriter.java:102-108) and rollback + rethrow on
 * failure (IidrCdcSinkTask.java:143-154); the task returns one
 * [[Summary]] row, from which the driver builds [[ApplyStats]] and
 * its warnings. Exactly-once EFFECT comes from idempotent upsert
 * replay, not 2PC (sink README.md:8). A transient failure re-runs the
 * job from the driver (W17, [[Config.maxRetries]]).
 *
 * DDL (auto-create / auto-evolve, JdbcWriter.java:326-372) runs in the
 * task at the first row of each table — the DLQ table's at the first
 * corrupt row, so a clean batch never creates it — on a separate
 * autocommit connection: MySQL commits DDL implicitly, so DDL never
 * shares the data transaction. A per-JVM cache of each table's known
 * columns, the reference's columnTypeCache (JdbcWriter.java:225-240),
 * spares a known table every metadata call; an evolve refreshes its
 * entry and a failed attempt drops the entries it used. Its limit is
 * the reference's: a table dropped out of band behind a warm entry
 * fails its batch, and the next attempt re-creates it.
 */
object JdbcApply {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Cap on per-record corrupt WARN lines per batch (tolerance=log): a
    * poison batch must not flood the driver with log I/O. */
  val MaxLoggedCorrupt = 100

  /** What a batch apply skipped: corrupt rows written to the DLQ, how
    * many of them were WARN-logged (>0 only under tolerance=log — the
    * observable difference from `all`, IidrCdcSinkTask.java:236-264),
    * and valid rows whose PK could not be resolved (warn + skip, like
    * JdbcWriter.java:208-221 — never a silent drop). */
  final case class ApplyStats(corruptSkipped: Long, warningsLogged: Long,
      unroutableSkipped: Long = 0L)

  final case class Config(
      url: String,
      /** Value schema per target table (drives typed parse + DDL). */
      tableSchemas: Map[String, StructType],
      /** Key schema per target table (DELETE routing). */
      keySchemas: Map[String, StructType],
      primaryKeys: Map[String, Seq[String]],
      batchSize: Int = 3000,
      autoCreate: Boolean = true,
      autoEvolve: Boolean = true,
      /** none = throw after writing DLQ; log/all = continue (IidrCdcSinkConfig.java:41-44). */
      errorsTolerance: String = "none",
      corruptTable: String = "streaming_corrupt_events",
      /** field → timestamp|date|time forcing for STRING payload fields
        * (IidrToJdbcSinkTransform.java:61-62; parse a config string
        * with [[graft.operators.TypeOverrides.parseConfig]]). */
      fieldTypeOverrides: Map[String, String] = Map.empty,
      /** `field.name.case`: lower | upper | none — COLUMN-name casing
        * at the JDBC edge (DDL + statements), while payload parsing
        * keeps the wire field names (IidrToJdbcSinkTransform
        * .java:57-59,221-229; PostgreSQL folds unquoted identifiers). */
      fieldNameCase: String = "none",
      /** `connection.user` / `connection.password` (IidrCdcSinkConfig
        * .java:22-27); None ⇒ credentials ride the URL. */
      user: Option[String] = None,
      password: Option[String] = None,
      /** `max.retries` / `retry.backoff.ms` (IidrCdcSinkConfig.java:77-83,
        * defaults 10 / 3000). The reference DECLARES both and never reads
        * them (JdbcWriter.java) — here they are WIRED: when the batch's
        * job fails with a TRANSIENT error (connection loss, deadlock/
        * serialization rollback — [[isTransient]]), the driver re-runs
        * it up to `maxRetries` times, `retryBackoffMs` apart, each
        * attempt a fresh connection + transaction that reads every row
        * again — safe, the apply is idempotent. Non-transient errors
        * rethrow at once; tolerance decides what happens after the
        * last attempt, as after a first failure. 0 disables retry. */
      maxRetries: Int = 10,
      retryBackoffMs: Long = 3000)

  /** Apply one normalized micro-batch (CdcNormalize output shape).
    * Returns the batch's skip statistics (corrupt rows never silently
    * vanish: they are DLQ'd, counted, and — under tolerance=log —
    * WARN-logged like the reference task). */
  def applyBatch(normalized: DataFrame, cfg: Config): ApplyStats = {
    require(Set("none", "log", "all").contains(cfg.errorsTolerance),
      s"errors.tolerance must be none|log|all, got '${cfg.errorsTolerance}'")
    require(Set("none", "lower", "upper").contains(cfg.fieldNameCase),
      s"field.name.case must be none|lower|upper, got '${cfg.fieldNameCase}'")
    // field.type.overrides failures are DATA errors: they ride the same
    // DLQ + tolerance path as malformed envelopes (the reference throws
    // DataException from the SMT for exactly these,
    // IidrToJdbcSinkTransform.java:292), scoped like the coercion in
    // parsedValue: pinned STRING fields only.
    val marked = TypeOverrides.markFailures(normalized, cfg.tableSchemas, cfg.fieldTypeOverrides)
    // A table with a PK but no pinned schema is still applied — its
    // value schema is INFERRED from the batch's own payloads (C1
    // fallback, IidrToJdbcSinkTransform.java:299-320), by jobs of their
    // own before the write; a config with every schema pinned runs none.
    //
    // DEFERRED AUTO-CREATE is a consequence operators should expect:
    // a configured table's DDL runs on the first batch that CARRIES
    // rows for it, not when the sink starts — after a data-free (or
    // deletes-only-against-nothing) first batch the table does not
    // exist yet. Intentional: creating from config alone would need a
    // schema before the C1 inference fallback has seen any payload.
    val spark = marked.sparkSession
    val configured = (cfg.tableSchemas.keySet ++ cfg.primaryKeys.keySet).toSeq.sorted
    // Corrupt rows scan under a null table.
    val scan = Option(configured.filterNot(cfg.tableSchemas.contains)).filter(_.nonEmpty)
      .map(SchemaInfer.inferPerTable(marked.withColumn("__t", when(
        col(Cdc.Cols.CorruptReason).isNull, col(Cdc.Cols.TargetTable))), "__t", Cdc.Cols.ValueJson, _))
    // Every table's config checks run before the write, so a
    // misconfigured table fails the batch before any table lands.
    val plans = configured.flatMap(t => tablePlan(t, cfg.tableSchemas.getOrElse(t,
      scan.flatMap(_.schemas.get(t)).getOrElse(new StructType())), cfg))
    val task = new ApplyTask(cfg, configured.toSet,
      plans.map(p => p.table -> (p, parser(spark, p))).toMap)
    // Read from ONE partition. CoalesceExec(1) is SinglePartition,
    // which satisfies the LWW window's distribution, so the plan has no
    // exchange. On embedded Derby (4 vCPUs, local[4]) this matched the
    // (table, pk) exchange with a writer per shuffle partition within
    // run-to-run spread at 2,000 and 6,000 rows per batch, and was
    // faster at 12,000 and 24,000.
    val rows = keyedRows(marked.coalesce(1), plans)
    import spark.implicits._
    // W17: a transient failure re-runs the job from the driver. The
    // failed attempt rolled back its one transaction and dropped the
    // cache entries it used, and the re-run reads the batch again.
    // A scan that saw nothing to write (no corrupt row, no valid row of
    // a planned table) spares the write job.
    val summary = scan.filter(s => !s.present(None) && !plans.exists(p => s.present(Some(p.table))))
      .map(s => Summary(unconfigured = (s.present.flatten -- configured).toSeq.sorted))
      .getOrElse(withTransientRetry("apply write job", cfg.maxRetries, cfg.retryBackoffMs) {
        rows.mapPartitions(task.run).collect()
      }.headOption.getOrElse(Summary()))

    // Per-record WARN + skip under log (IidrCdcSinkTask.java:254-259),
    // capped at MaxLoggedCorrupt with a rollup line so the count is
    // always visible; "all" skips silently.
    val warned = if (cfg.errorsTolerance != "log") 0L else {
      summary.sample.foreach(log.warn)
      if (summary.corrupt > summary.sample.length) log.warn(s"... and " +
        s"${summary.corrupt - summary.sample.length} more corrupt record(s) skipped (see DLQ table)")
      summary.sample.length.toLong
    }
    // Rows routed to an UNCONFIGURED table are surfaced: a config typo
    // would otherwise advance the checkpoint past the data with no signal.
    if (summary.unconfigured.nonEmpty)
      log.warn(s"Batch contains rows for unconfigured table(s) " +
        s"${summary.unconfigured.mkString(", ")} — no schema or " +
        "primary key is configured, so these rows are NOT applied")
    summary.unroutable.toSeq.sorted.foreach { case (t, n) =>
      log.warn(s"$n record(s) for table $t skipped: no " +
        s"primary-key value resolvable from key or value payload")
    }
    // tolerance=none: the corrupt rows reached the DLQ, no data row
    // landed, and the batch fails (IidrCdcSinkTask.java:236-264).
    if (summary.corrupt > 0 && cfg.errorsTolerance == "none")
      throw new IllegalStateException(
        s"${summary.corrupt} corrupt record(s) in batch and errors.tolerance=none")
    ApplyStats(summary.corrupt, warned, summary.unroutable.values.sum)
  }

  /** What the write task saw: the corrupt count and the first
    * [[MaxLoggedCorrupt]] WARN lines, the rows skipped per table for
    * lack of a PK value, and the unconfigured tables that had rows. */
  private[sinks] final case class Summary(corrupt: Long = 0L, sample: Seq[String] = Nil,
      unroutable: Map[String, Long] = Map.empty, unconfigured: Seq[String] = Nil)

  /** One configured table: parse schema, STRING-field overrides, key
    * schema, wire PKs, and the cased schema/PKs of the JDBC edge. */
  private final case class TablePlan(table: String, schema: StructType,
      overrides: Map[String, String], keySchema: StructType, pks: Seq[String],
      jdbcSchema: StructType, jdbcPks: Seq[String])

  /** Check one table's config and resolve its schemas; None when
    * nothing is inferable (no payloads for an unpinned table in this
    * batch — e.g. deletes only against a table that was never
    * created). */
  private def tablePlan(table: String, schema: StructType,
      cfg: Config): Option[TablePlan] = {
    if (schema.isEmpty) return None
    // Overrides hit STRING-declared fields only (the reference coerces
    // only string values, IidrToJdbcSinkTransform.java:246-252); the
    // EFFECTIVE schema — with overridden fields re-typed — drives DDL
    // and binding, so an order_date:date override creates a DATE column.
    val overrides = cfg.fieldTypeOverrides.filter { case (f, _) =>
      schema.fields.exists(sf => sf.name == f && sf.dataType == StringType) }
    val effSchema = StructType(schema.fields.map(f =>
      overrides.get(f.name)
        .map(t => f.copy(dataType = TypeOverrides.sparkType(t)))
        .getOrElse(f)))
    val keySchema = cfg.keySchemas.getOrElse(table, new StructType())
    val pks = cfg.primaryKeys.getOrElse(table, Seq.empty)
    require(pks.nonEmpty, s"no primary key configured for $table")

    // field.name.case applies at the JDBC EDGE only: parsing uses the
    // wire field names; DDL and statements use the cased names
    // (binding is positional, so only the names change).
    // Locale.ROOT: identifier casing must not vary with the JVM's
    // default locale (Turkish-I would otherwise corrupt "ID").
    val cased: String => String = cfg.fieldNameCase match {
      case "lower" => _.toLowerCase(java.util.Locale.ROOT)
      case "upper" => _.toUpperCase(java.util.Locale.ROOT)
      case _ => identity
    }
    // A PK carried only by the KEY schema (value payloads never repeat
    // it — the compacted-topic shape) still needs a column: append it
    // so DDL declares it and the writer binds it from its PK value.
    val ddlSchema = StructType(effSchema.fields ++
      pks.filterNot(effSchema.fieldNames.contains)
        .flatMap(p => keySchema.fields.find(_.name == p)))
    // A configured PK found in NEITHER schema must fail HERE with the
    // config problem named — otherwise ddlSchema silently omits the
    // column while createTableSql still declares PRIMARY KEY over it,
    // surfacing as an opaque dialect-level SQL error at DDL time.
    val missingPks = pks.filterNot(ddlSchema.fieldNames.contains)
    if (missingPks.nonEmpty)
      throw new IllegalArgumentException(
        s"configured primary key(s) ${missingPks.mkString(", ")} for table " +
          s"$table resolve to no column in either the value schema or the " +
          "key schema — fix the pk list or the schemas")
    val jdbcSchema = StructType(ddlSchema.fields.map(f => f.copy(name = cased(f.name))))
    // Two wire fields collapsing to one cased name ("ID" and "id"
    // under lower) would otherwise surface as a confusing dialect
    // error at DDL/INSERT time — fail here, naming the collision.
    if (jdbcSchema.fieldNames.distinct.length != jdbcSchema.fieldNames.length) {
      val dups = jdbcSchema.fieldNames.groupBy(identity)
        .collect { case (n, ns) if ns.length > 1 => n }
      throw new IllegalArgumentException(
        s"field.name.case=${cfg.fieldNameCase} collapses distinct wire fields " +
          s"into duplicate column name(s) ${dups.mkString(", ")} for table $table")
    }
    Some(TablePlan(table, schema, overrides, keySchema, pks, jdbcSchema, pks.map(cased)))
  }

  /** Table `p`'s value struct: `value_json` parsed under `schema` (the
    * table's schema or a part of it), with the STRING-field overrides
    * coerced. */
  private def parsedValue(p: TablePlan, schema: StructType): Column =
    p.overrides.filter { case (f, _) => schema.fieldNames.contains(f) }
      .foldLeft(from_json(col(Cdc.Cols.ValueJson), schema)) { case (v, (f, t)) =>
        v.withField(f, TypeOverrides.coerce(v.getField(f), t))
      }

  /** Table `p`'s PK values: key struct for deletes, value struct first
    * otherwise (IidrCdcSinkTask.java:186-195 / JdbcWriter.java:208-221).
    * Either struct may LACK the field (pinned value schema without the
    * PK, or no key schema configured) — referencing a missing struct
    * field would fail analysis, so both sides are schema-guarded. */
  private def pkValues(p: TablePlan, value: Column): Seq[Column] = {
    val key = from_json(col(Cdc.Cols.KeyJson), pkOnly(p, p.keySchema))
    p.pks.map { pk =>
      val fromKey = Option.when(p.keySchema.fieldNames.contains(pk))(key.getField(pk))
      val fromValue = Option.when(p.schema.fieldNames.contains(pk))(value.getField(pk))
      when(col(Cdc.Cols.Op) === Cdc.Op.Delete, fromKey.orElse(fromValue).getOrElse(lit(null)))
        .otherwise(coalesce((fromValue.toSeq ++ fromKey.toSeq :+ lit(null)): _*))
    }
  }

  private def pkOnly(p: TablePlan, schema: StructType): StructType =
    StructType(schema.fields.filter(f => p.pks.contains(f.name)))

  /** The batch after last-write-wins: (data-row flag, op, table, key
    * json, value json, DLQ struct). A data row (valid, planned table,
    * PK resolved) is keyed by the JSON of its typed PK values, parsed
    * alone. Any other row — corrupt, no resolvable PK (warn + skip +
    * count, like JdbcWriter.java:208-221), unconfigured table — is
    * keyed by its Kafka coordinates, so it survives alone, and the flag
    * leads the window's key, so they all sort before any data row. */
  private def keyedRows(batch: DataFrame, plans: Seq[TablePlan]): DataFrame = {
    val table = col(Cdc.Cols.TargetTable)
    // One CASE branch per PK shape: tables whose PKs parse alike share it.
    val branches = plans.groupBy(p => (pkOnly(p, p.keySchema), pkOnly(p, p.schema), p.pks,
        p.overrides.filter { case (f, _) => p.pks.contains(f) }))
      .values.toSeq.sortBy(_.head.table).map { ps =>
        val pks = pkValues(ps.head, parsedValue(ps.head, pkOnly(ps.head, ps.head.schema)))
        table.isin(ps.map(_.table): _*) -> when(pks.map(_.isNotNull).reduce(_ && _),
          to_json(struct(pks.zipWithIndex.map { case (c, j) => c.as(s"k$j") }: _*)))
      }
    val pkKey = branches.foldRight(lit(null).cast(StringType)) { case ((c, k), otherwise) =>
      when(c, k).otherwise(otherwise) }
    val data = col(Cdc.Cols.CorruptReason).isNull && col("__key").isNotNull
    val keyed = batch.withColumn("__key", pkKey).withColumns(Map("__data" -> data,
      "__key" -> when(data, col("__key"))
        .otherwise(to_json(struct(col("topic"), col("partition"), col("offset"))))))
    CdcOps.lastWriteWins(keyed, "__data", Seq(Cdc.Cols.TargetTable, "__key"), "offset")
      .select(col("__data"), col(Cdc.Cols.Op), table, col(Cdc.Cols.KeyJson),
        col(Cdc.Cols.ValueJson),
        when(col(Cdc.Cols.CorruptReason).isNotNull, struct(CdcOps.corruptEventColumns(
          col("topic"), col("partition"), col("offset"),
          col(Cdc.Cols.KeyJson), col(Cdc.Cols.ValueJson),
          to_json(struct(col(Cdc.Cols.TableName), col(Cdc.Cols.EntryType),
            col(Cdc.Cols.SourceTs))),
          col(Cdc.Cols.CorruptReason), col(Cdc.Cols.TableName),
          col(Cdc.Cols.EntryType)): _*)).as("__dlq"))
  }

  /** Table parsers, planned once per (schema, overrides, key schema,
    * PKs, session time zone) in this JVM: tables of one shape share one. */
  private val parsers = TrieMap.empty[Any, RowProjection]

  /** Table `p`'s parse, run in the task on each of its data rows:
    * (op, key json, value json) → its PK values, then its value struct. */
  private def parser(spark: SparkSession, p: TablePlan): RowProjection = {
    if (parsers.size >= 1024) parsers.clear()
    parsers.getOrElseUpdate((p.schema, p.overrides, p.keySchema, p.pks,
        spark.conf.get("spark.sql.session.timeZone")), {
      val v = parsedValue(p, p.schema)
      RowProjection(spark, StructType(Seq(Cdc.Cols.Op, Cdc.Cols.KeyJson, Cdc.Cols.ValueJson)
        .map(StructField(_, StringType))), pkValues(p, v) :+ v)
    })
  }

  /** The write job's one task: reads the keyed batch in its window
    * order — DLQ and skipped rows first, then data rows — counts,
    * dead-letters and writes them in one transaction, and returns one
    * [[Summary]]. */
  private final class ApplyTask(cfg: Config, configured: Set[String],
      plans: Map[String, (TablePlan, RowProjection)]) extends Serializable {
    def run(rows: Iterator[Row]): Iterator[Summary] = {
      val sink = new Sink(cfg)
      var corrupt = 0L
      val sample = Seq.newBuilder[String]
      val unroutable = mutable.Map.empty[String, Long]
      val unconfigured = mutable.SortedSet.empty[String]
      var inData = false
      try {
        rows.foreach { r =>
          val table = r.getString(2)
          if (r.getBoolean(0)) {
            inData = true
            // tolerance=none: every corrupt row is counted by now, and a
            // batch that has any writes no data row
            if (corrupt == 0 || cfg.errorsTolerance != "none") {
              val (p, parse) = plans(table)
              sink.table(p).write(r.getString(1), parse(r.getString(1), r.getString(3), r.getString(4)))
            }
          } else {
            if (inData) throw new IllegalStateException(
              "apply task: a DLQ or skipped row arrived after a data row")
            if (!r.isNullAt(5)) {
              val d = r.getStruct(5)
              if (corrupt < MaxLoggedCorrupt) sample += s"Corrupt record skipped: " +
                s"${d.getString(6)} (topic=${d.get(0)}, partition=${d.get(1)}, offset=${d.get(2)})"
              corrupt += 1
              sink.dlq().write(d)
            } else if (plans.contains(table)) unroutable(table) = unroutable.getOrElse(table, 0L) + 1
            else if (table != null && !configured(table)) unconfigured += table
          }
        }
        sink.commit()
      } catch { case e: Throwable => sink.fail(); throw e }
      finally sink.close()
      Iterator(Summary(corrupt, sample.result(), unroutable.toMap, unconfigured.toSeq))
    }
  }

  /** Columns known to exist per (url, user, table), in this JVM —
    * the reference's columnTypeCache (JdbcWriter.java:225-240): a table
    * whose columns are all known costs no metadata call. */
  private val knownColumns = TrieMap.empty[(String, Option[String], String), Set[String]]
  /** The dialect per url, so a warm batch makes no metadata call. */
  private val dialects = TrieMap.empty[String, Dialect]

  /** One attempt's JDBC side: the data transaction, opened at the first
    * row written; the autocommit DDL connection, opened at the first
    * cache miss (DDL never shares the data transaction — MySQL commits
    * DDL implicitly); a writer per table met; and the cache entries the
    * attempt used, all dropped if it fails. */
  private final class Sink(cfg: Config) {
    private var conn, ddlConn: Connection = _
    private val writers = mutable.LinkedHashMap.empty[String, TableWriter]
    private var dlqWriter = Option.empty[DlqWriter]
    private val used = mutable.Set.empty[(String, Option[String], String)]

    private def data: Connection = {
      if (conn == null) {
        conn = connect(cfg)
        conn.setAutoCommit(false)
      }
      conn
    }
    private lazy val dialect = dialects.getOrElseUpdate(cfg.url, Dialects.forConnection(data))

    /** Make sure `table` has `schema`'s columns: free when the cache
      * knows them all, else auto-create / auto-evolve on the DDL
      * connection and record the columns that exist now. */
    private def ensure(table: String, schema: StructType, pks: Seq[String],
        isDlq: Boolean): Unit = {
      val key = (cfg.url, cfg.user, table)
      used += key
      val known = knownColumns.getOrElse(key, Set.empty[String])
      if (!schema.fieldNames.forall(f => known(lower(f)))) {
        if (ddlConn == null) ddlConn = connect(cfg)
        knownColumns(key) = ensureTable(ddlConn, dialect, table, schema, pks, cfg, isDlq)
      }
    }

    def table(p: TablePlan): TableWriter = writers.getOrElseUpdate(p.table, {
      val t = dialect.normalizeIdent(p.table)
      ensure(t, p.jdbcSchema, p.jdbcPks, isDlq = false)
      new TableWriter(data, dialect, t, p, cfg.batchSize)
    })

    def dlq(): DlqWriter = dlqWriter.getOrElse {
      ensure(dialect.normalizeIdent(cfg.corruptTable), Cdc.corruptEventSchema, Nil, isDlq = true)
      dlqWriter = Some(new DlqWriter(data, dialect, cfg))
      dlqWriter.get
    }

    def commit(): Unit = if (conn != null) {
      dlqWriter.foreach(_.finish())
      writers.values.foreach(_.finish())
      conn.commit()
    }

    def fail(): Unit = {
      if (conn != null) rollbackQuietly(conn)
      used.foreach(knownColumns.remove)
    }

    def close(): Unit = Seq(conn, ddlConn).filter(_ != null).foreach(closeQuietly)
  }

  /** One table's statements inside the attempt's transaction, with
    * PreparedStatement reuse and batched ops. */
  private final class TableWriter(conn: Connection, dialect: Dialect, t: String,
      p: TablePlan, batchSize: Int) {
    private val (valueCols, pks) = (p.jdbcSchema.fieldNames.toSeq, p.jdbcPks)
    private val delete = conn.prepareStatement(dialect.deleteSql(t, pks))
    private var nDel = 0
    private val plan = dialect.upsertSql(t, valueCols, pks)
    private val (upsertPs, insertPs) = plan match {
      case NativeUpsert(sql, _) => (conn.prepareStatement(sql), null)
      case UpdateInsert(up, ins, _) =>
        (if (up.nonEmpty) conn.prepareStatement(up) else null,
          conn.prepareStatement(ins))
    }
    private var nUp = 0
    // UpdateInsert (generic dialect): buffer up to batchSize rows,
    // batch all UPDATEs, read executeBatch's update counts, then
    // batch-INSERT only the zero-count rows — ~2 round trips per
    // batch instead of up to 2 per ROW (JdbcWriter.java:102-108).
    private val pending = scala.collection.mutable.ArrayBuffer
      .empty[(IndexedSeq[Any], IndexedSeq[Any])] // (colVals, pkVals)

    private def bindUpdate(ui: UpdateInsert, i: Int): Unit = {
      val (colVals, pkVals) = pending(i)
      ui.updateBind(upsertPs, valueCols.zip(colVals)
        .filterNot { case (c, _) => pks.contains(c) }.map(_._2), pkVals)
    }

    private def flushUpdateInsert(ui: UpdateInsert): Unit = {
      if (pending.isEmpty) return
      val hasUpdate = upsertPs != null
      val needInsert =
        if (!hasUpdate) pending.toIndexedSeq
        else {
          pending.indices.foreach { i => bindUpdate(ui, i); upsertPs.addBatch() }
          val counts = upsertPs.executeBatch()
          // SUCCESS_NO_INFO (-2) drivers don't report row counts:
          // re-check those rows individually so new keys are never
          // silently dropped.
          val recheck = pending.indices
            .filter(counts(_) == java.sql.Statement.SUCCESS_NO_INFO)
            .filter { i => bindUpdate(ui, i); upsertPs.executeUpdate() == 0 }
          (pending.indices.filter(counts(_) == 0) ++ recheck).map(pending(_))
        }
      needInsert.foreach { case (colVals, _) =>
        colVals.zipWithIndex.foreach { case (cv, i) =>
          insertPs.setObject(i + 1, cv)
        }
        if (hasUpdate) insertPs.addBatch()
        else {
          // All-PK tables have no UPDATE statement, so "insert if
          // absent" must tolerate duplicate keys for the idempotent-
          // replay contract (mirrors INSERT IGNORE / DO NOTHING).
          try insertPs.executeUpdate()
          catch { case e: java.sql.SQLException if isDuplicateKey(e) => }
        }
      }
      if (hasUpdate && needInsert.nonEmpty) insertPs.executeBatch()
      pending.clear()
    }

    /** `parsed`: the table's PK values, then its value struct. */
    def write(op: String, parsed: Row): Unit = {
      val pkVals = pks.indices.map(i => jdbcValue(parsed.get(i)))
      if (op == Cdc.Op.Delete) {
        pkVals.zipWithIndex.foreach { case (v, i) => delete.setObject(i + 1, v) }
        delete.addBatch(); nDel += 1
        if (nDel % batchSize == 0) delete.executeBatch()
      } else {
        val v = parsed.getStruct(pks.length)
        // PK columns bind from the ROUTING values (the PK columns,
        // already key/value-coalesced): a PK riding only the record key
        // would otherwise insert as NULL from the value struct —
        // and key-only PK columns have no value-struct slot at all.
        val colVals = valueCols.indices.map { i =>
          val pkIdx = pks.indexOf(valueCols(i))
          if (pkIdx >= 0) pkVals(pkIdx)
          else if (v == null) null else jdbcValue(v.get(i))
        }
        plan match {
          case NativeUpsert(_, bind) =>
            bind(upsertPs, colVals)
            upsertPs.addBatch(); nUp += 1
            if (nUp % batchSize == 0) upsertPs.executeBatch()
          case ui: UpdateInsert =>
            pending += ((colVals, pkVals))
            if (pending.length >= batchSize) flushUpdateInsert(ui)
        }
      }
    }

    def finish(): Unit = {
      if (nDel % batchSize != 0) delete.executeBatch()
      plan match {
        case _: NativeUpsert =>
          if (nUp % batchSize != 0) upsertPs.executeBatch()
        case ui: UpdateInsert => flushUpdateInsert(ui)
      }
    }
  }

  /** Failed-attempt cleanup must never REPLACE the original
    * exception: rollback()/close() on a dead connection routinely
    * throw (connection loss is exactly the case retry exists for),
    * and if the replacement isn't 08/40-classified, [[isTransient]]
    * would skip the retry the W17 wiring promises. Log and move on —
    * an un-rolled-back transaction dies with its connection, and the
    * retry re-writes every row on a fresh connection anyway. */
  private def rollbackQuietly(conn: Connection): Unit =
    try conn.rollback() catch {
      case e: Exception => log.warn(s"rollback after failed attempt: $e")
    }

  private def closeQuietly(conn: Connection): Unit =
    try conn.close() catch {
      case e: Exception => log.warn(s"close after attempt: $e")
    }

  /** Auto-create / auto-evolve (JdbcWriter.java:326-372); returns the
    * columns the table has afterwards, lower-cased. The DLQ table is
    * created whatever `autoCreate` says and never evolved: its shape is
    * the sink's own. */
  private def ensureTable(conn: Connection, dialect: Dialect, t: String,
      schema: StructType, pks: Seq[String], cfg: Config, isDlq: Boolean): Set[String] = {
    val names = schema.fieldNames.map(lower).toSet
    val existing = columnsOf(conn, t).map(lower).toSet
    if (existing.isEmpty) {
      if (!isDlq && !cfg.autoCreate)
        throw new IllegalStateException(s"table $t missing and autoCreate=false")
      exec(conn, dialect.createTableSql(t, schema, pks))
      names
    } else if (isDlq) names
    else if (cfg.autoEvolve) {
      schema.fields.filterNot(f => existing(lower(f.name)))
        .foreach(f => exec(conn, dialect.addColumnSql(t, f)))
      existing ++ names
    } else existing
  }

  // Locale.ROOT like every identifier fold in this file — the
  // default-locale toLowerCase would mis-compare "ID" under tr-TR and
  // spuriously ADD a duplicate column.
  private def lower(name: String): String = name.toLowerCase(java.util.Locale.ROOT)

  /** The DLQ table's statements inside the attempt's transaction.
    * REPLAY-IDEMPOTENT: Kafka coordinates (topic, partition, offset)
    * identify a corrupt row globally, so a redelivered foreachBatch or
    * a retried attempt REPLACES its own DLQ rows instead of appending
    * duplicates, where the reference blind-inserts
    * (CorruptEventWriter.java:37-114). Delete-then-insert by
    * coordinates, chunked so memory stays at batchSize rows, inside the
    * attempt's one transaction so a crash between the phases can't
    * lose rows. */
  private final class DlqWriter(conn: Connection, dialect: Dialect, cfg: Config) {
    private val fields = Cdc.corruptEventSchema.fieldNames.toSeq
    private val t = dialect.quote(dialect.normalizeIdent(cfg.corruptTable))
    private val ins = conn.prepareStatement(
      s"INSERT INTO $t (${fields.map(dialect.quote).mkString(", ")}) " +
        s"VALUES (${fields.map(_ => "?").mkString(", ")})")
    private val del = conn.prepareStatement(s"DELETE FROM $t WHERE " +
      Seq("topic", "kafka_partition", "kafka_offset")
        .map(c => s"${dialect.quote(c)} = ?").mkString(" AND "))
    private val chunk = scala.collection.mutable.ArrayBuffer.empty[Row]

    /** `row`: one `streaming_corrupt_events` row. */
    def write(row: Row): Unit = {
      chunk += row
      if (chunk.length >= cfg.batchSize) finish()
    }

    def finish(): Unit = if (chunk.nonEmpty) {
      chunk.foreach { row =>
        (0 until 3).foreach(i => del.setObject(i + 1, jdbcValue(row.get(i))))
        del.addBatch()
      }
      del.executeBatch()
      chunk.foreach { row =>
        fields.indices.foreach(i => ins.setObject(i + 1, jdbcValue(row.get(i))))
        ins.addBatch()
      }
      ins.executeBatch()
      chunk.clear()
    }
  }

  // ------------------------------------------------------------- helpers
  /**
   * JDBC-bindable value for a Spark Row value (W7 typed binding).
   * Interval externals (java.time.Period/Duration) have no portable
   * setObject mapping, so they bind as their ANSI interval literal —
   * `y-m` / `d hh:mm:ss.ffffff`, sign-prefixed — which is both what
   * an INTERVAL-typed target parses and what a VARCHAR fallback
   * (Derby/MySQL) stores losslessly; TypeOverrides.coerce parses the
   * same forms back, closing the round trip for EVERY representable
   * Period/Duration — its 9-digit year/day gates plus exact
   * total-value guards span Spark's full YearMonthIntervalType
   * (±178956970-8) and DayTimeIntervalType (±106751991d 04:00:54.8)
   * domains (IntervalPropertySpec pins the extremes). Everything else
   * (incl. Array[Byte] → BLOB) passes through to setObject.
   */
  private[graft] def jdbcValue(v: Any): Any = v match {
    case p: java.time.Period =>
      val tm = p.toTotalMonths
      val m = math.abs(tm)
      s"${if (tm < 0) "-" else ""}${m / 12}-${m % 12}"
    case d: java.time.Duration =>
      val a = d.abs()
      val micros = a.getNano / 1000
      f"${if (d.isNegative) "-" else ""}${a.toDays} " +
        f"${a.toHoursPart}%02d:${a.toMinutesPart}%02d:${a.toSecondsPart}%02d.$micros%06d"
    case other => other
  }

  /** TRANSIENT-error classification for W17 retry: the JDBC4 marker
    * types (`SQLTransientException` — incl. deadlock-victim
    * `SQLTransactionRollbackException` and timeouts —
    * `SQLRecoverableException`), or for pre-JDBC4 drivers SQLState
    * class 08 (connection) or the retryable rollbacks 40001 (deadlock /
    * serialization) and 40P01 (PostgreSQL's deadlock), walked through
    * `getNextException` chains (BatchUpdateException buries the real
    * state there) and causes. NOT all of class 40: 40002 is an
    * integrity-violation rollback that re-fails identically on replay,
    * so retrying it delays the loud failure the tolerance contract
    * promises and bypasses [[isDuplicateKey]]. Integrity violations
    * (class 23) and syntax/DDL errors are NOT transient either. */
  private[graft] def isTransient(e: Throwable, depth: Int = 0): Boolean =
    depth < 10 && (e match {
      case s: java.sql.SQLException =>
        s.isInstanceOf[java.sql.SQLTransientException] ||
          s.isInstanceOf[java.sql.SQLRecoverableException] ||
          Option(s.getSQLState).exists(st =>
            st.startsWith("08") || st == "40001" || st == "40P01") ||
          (s.getNextException != null && (s.getNextException ne s) &&
            isTransient(s.getNextException, depth + 1)) ||
          (s.getCause != null && (s.getCause ne s) &&
            isTransient(s.getCause, depth + 1))
      case _ =>
        e.getCause != null && (e.getCause ne e) &&
          isTransient(e.getCause, depth + 1)
    })

  /** Run `body`, retrying up to `maxRetries` times on [[isTransient]]
    * failures with `backoffMs` sleep between attempts (the reference's
    * declared-but-unwired max.retries/retry.backoff.ms semantics,
    * IidrCdcSinkConfig.java:77-83). Every retry is observable: one
    * WARN per attempt, so an operator sees a flapping database before
    * it becomes an exhausted-retries failure. Non-transient errors —
    * and the attempt after the last retry — propagate unchanged, so
    * the caller's tolerance/rollback contract is untouched. */
  private def withTransientRetry[A](what: String, maxRetries: Int,
      backoffMs: Long)(body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: Throwable if attempt < maxRetries && isTransient(e) =>
          attempt += 1
          log.warn(s"transient JDBC failure on $what (retry $attempt of " +
            s"$maxRetries, backing off ${backoffMs}ms): ${e.getMessage}")
          if (backoffMs > 0) Thread.sleep(backoffMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Duplicate-key detection that survives non-JDBC4 drivers.
    * DUPLICATE-specific only: SQLState 23505 (unique violation —
    * ANSI-distinct, used by Derby/PG/H2), or a duplicate-key VENDOR
    * code (MySQL 1062, Oracle ORA-00001, SQL Server 2601/2627). The
    * generic states 23000/23001 alone do NOT qualify: Oracle and
    * SQL Server report FK (ORA-02291, error 547) and NOT NULL
    * (MySQL 1048) failures under 23000 too, so accepting the bare
    * state would silently drop genuinely corrupt rows on the all-PK
    * insert path — as would the whole class-23 family or the typed
    * subclass (FK 23503, NOT NULL 23502, CHECK 23514). Anything else
    * rethrows. */
  private[graft] def isDuplicateKey(e: java.sql.SQLException): Boolean =
    Option(e.getSQLState).contains("23505") ||
      Set(1062, 1, 2601, 2627)(e.getErrorCode) &&
        Option(e.getSQLState).exists(_.startsWith("23"))

  /** Credentialed connect. Properties form so a password WITHOUT a
    * user (username riding the URL) is still forwarded instead of
    * silently dropped. */
  private def connect(cfg: Config): Connection =
    if (cfg.user.isEmpty && cfg.password.isEmpty) DriverManager.getConnection(cfg.url)
    else {
      val p = new java.util.Properties()
      cfg.user.foreach(p.setProperty("user", _))
      cfg.password.foreach(p.setProperty("password", _))
      DriverManager.getConnection(cfg.url, p)
    }

  /** Escape JDBC metadata search-pattern wildcards ('_' and '%') so
    * table names like streaming_corrupt_events match literally. */
  private def escapePattern(conn: Connection, name: String): String = {
    val esc = conn.getMetaData.getSearchStringEscape
    name.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
  }

  private def columnsOf(conn: Connection, table: String): Seq[String] = {
    val rs = conn.getMetaData.getColumns(
      null, null, escapePattern(conn, table), null)
    val b = Seq.newBuilder[String]
    try { while (rs.next()) b += rs.getString("COLUMN_NAME") } finally rs.close()
    b.result()
  }

  private def exec(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try st.executeUpdate(sql) finally st.close()
  }
}
