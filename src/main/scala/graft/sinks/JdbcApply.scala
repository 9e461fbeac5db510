package graft.sinks

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.model.Cdc
import graft.operators.CdcOps

/**
 * Batch CDC → JDBC apply: the Spark rebuild of the reference's
 * JdbcWriter + IidrCdcSinkTask write path (JdbcWriter.java:38-174,
 * IidrCdcSinkTask.java:94-155), designed to be called from
 * `foreachBatch` (streaming) or directly (batch backfill).
 *
 * Scale shape per micro-batch — two Spark jobs for any number of
 * tables, like the reference's single task that applies a whole poll,
 * routing corrupt records to the DLQ and grouping the rest by table
 * (IidrCdcSinkTask.java:94-155, 236-264):
 *  1. one narrow census job, which also fills the batch's cache: the
 *     corrupt count, the tables with valid rows, and the WARN sample;
 *  2. one write job on ONE task: the batch is read coalesced to one
 *     partition, so last-write-wins on (table, pk), the order-
 *     insensitive equivalent of offset-order apply (SURVEY.md §2.6),
 *     needs no exchange and no two connections ever race on a key; the
 *     corrupt rows ride the same job as a narrow DLQ branch. Under
 *     tolerance=none a dirty batch writes the DLQ branch alone, then
 *     fails;
 *  3. one JDBC transaction over every table and the DLQ rows, PS
 *     reuse, `addBatch`/`executeBatch` every `batchSize` rows
 *     (JdbcWriter.java:102-108), rollback + rethrow on failure
 *     (IidrCdcSinkTask.java:143-154). Exactly-once EFFECT comes from
 *     idempotent upsert replay, not 2PC (sink README.md:8). A transient
 *     failure re-runs the write job from the driver (W17,
 *     [[Config.maxRetries]]) over the cached batch.
 *
 * DDL (auto-create / auto-evolve, JdbcWriter.java:326-372) runs on the
 * DRIVER, for every present table and the DLQ table (only when the
 * census counted corrupt rows) on one connection, before any executor
 * work — the reference can DDL inline in its task; here the writer
 * runs on an executor, so the driver serializes DDL ahead of it
 * (SURVEY.md §7.4).
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
        * write job, or the driver's connect/DDL scope, fails with a
        * TRANSIENT error (connection loss, deadlock/serialization
        * rollback — [[isTransient]]), the driver re-runs it up to
        * `maxRetries` times with `retryBackoffMs` between attempts, each
        * attempt a fresh connection + transaction (the failed one was
        * rolled back and the batch is cached, so the re-run re-reads
        * every row — safe, the whole apply is idempotent
        * upsert/delete/coordinate-keyed DLQ). Non-transient errors
        * rethrow immediately; the DLQ/tolerance semantics are untouched
        * (tolerance decides what happens AFTER retries are exhausted,
        * exactly as it decides a first failure). 0 disables retry. */
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
    // field.type.overrides failures are DATA errors: mark them as
    // corrupt BEFORE the split, so they ride the same DLQ + tolerance
    // path as malformed envelopes (the reference throws DataException
    // from the SMT for exactly these, IidrToJdbcSinkTransform.java:292).
    // Marking is scoped exactly like the coercion in writeTables: only
    // rows routed to a table whose PINNED schema declares the field as
    // STRING — a same-named numeric field on another table must parse
    // under ITS type, not the override (the reference SMT coerces only
    // string values). Inferred-schema tables are never marked: their
    // string fields coerce best-effort without the corrupt route.
    val marked =
      if (cfg.fieldTypeOverrides.isEmpty) normalized
      else {
        val reasons = for {
          (table, schema) <- cfg.tableSchemas.toSeq.sortBy(_._1)
          (f, t) <- cfg.fieldTypeOverrides.toSeq.sortBy(_._1)
          if schema.fields.exists(sf => sf.name == f && sf.dataType == StringType)
        } yield when(col(Cdc.Cols.TargetTable) === table,
          graft.operators.TypeOverrides.failureReason(
            get_json_object(col(Cdc.Cols.ValueJson), s"$$.$f"), t))
        if (reasons.isEmpty) normalized
        else normalized.withColumn(Cdc.Cols.CorruptReason,
          coalesce(col(Cdc.Cols.CorruptReason) +: reasons: _*))
      }
    // Cache the batch for the census, the write and any W17 re-run,
    // unless the caller already cached it: then that cache serves, and
    // it is the caller's to drop.
    val owned = marked.storageLevel == StorageLevel.NONE
    val batch = if (owned) marked.persist() else marked
    try {
      // Census: ONE narrow job over the PERSISTED batch, which also
      // fills the cache. Tables with no rows this batch skip their DDL
      // and their slice of the write plan, rows routed to an
      // UNCONFIGURED table are surfaced (a config typo would otherwise
      // advance the checkpoint past the data with no signal), and a
      // clean batch never touches the DLQ.
      val (nCorrupt, present, sample) = census(batch)
      // Write from ONE partition. CoalesceExec(1) is SinglePartition,
      // which satisfies the LWW window's distribution, so the write plan
      // has no exchange. On embedded Derby (4 vCPUs, local[4]) this
      // matched the (table, pk) exchange with a writer per shuffle
      // partition within run-to-run spread at 2,000 and 6,000 rows per
      // batch, and was faster at 12,000 and 24,000.
      val src = batch.coalesce(1)
      // tolerance=none: the corrupt rows still reach the DLQ, data rows
      // never land, then the batch fails (IidrCdcSinkTask.java:236-264).
      val strict = nCorrupt > 0 && cfg.errorsTolerance == "none"
      // Per-record WARN + skip under log (IidrCdcSinkTask.java:254-259),
      // capped at MaxLoggedCorrupt with a rollup line so the count is
      // always visible; "all" skips silently.
      val warned = if (cfg.errorsTolerance != "log") 0L else {
        sample.foreach(log.warn)
        if (nCorrupt > sample.length) log.warn(s"... and " +
          s"${nCorrupt - sample.length} more corrupt record(s) skipped (see DLQ table)")
        sample.length.toLong
      }
      val corrupt = Option.when(nCorrupt > 0)(CdcOps.toCorruptEvents(src,
        col("topic"), col("partition"), col("offset"),
        col(Cdc.Cols.KeyJson), col(Cdc.Cols.ValueJson),
        to_json(struct(col(Cdc.Cols.TableName), col(Cdc.Cols.EntryType),
          col(Cdc.Cols.SourceTs))),
        col(Cdc.Cols.CorruptReason), col(Cdc.Cols.TableName), col(Cdc.Cols.EntryType)))

      // A table with a PK but no pinned schema is still applied — its
      // value schema is INFERRED from the batch's own payloads (C1
      // fallback, IidrToJdbcSinkTransform.java:299-320).
      //
      // DEFERRED AUTO-CREATE is a consequence operators should expect:
      // a configured table's DDL runs on the first batch that CARRIES
      // rows for it, not when the sink starts — after a data-free (or
      // deletes-only-against-nothing) first batch the table does not
      // exist yet. Intentional: creating from config alone would need a
      // schema before the C1 inference fallback has seen any payload.
      val configured = cfg.tableSchemas.keySet ++ cfg.primaryKeys.keySet
      val unconfigured = present -- configured
      if (unconfigured.nonEmpty)
        log.warn(s"Batch contains rows for unconfigured table(s) " +
          s"${unconfigured.toSeq.sorted.mkString(", ")} — no schema or " +
          "primary key is configured, so these rows are NOT applied")
      // Every table's config checks run before any DDL or write, so a
      // misconfigured table fails the batch before the others land.
      val plans = if (strict) Nil else configured.toSeq.sorted
        .filter(present.contains).flatMap(tablePlan(batch, _, cfg))
      val unroutable = writeTables(src, plans, corrupt, cfg)
      if (strict)
        throw new IllegalStateException(
          s"$nCorrupt corrupt record(s) in batch and errors.tolerance=none")
      ApplyStats(nCorrupt, warned, unroutable)
    } finally if (owned) batch.unpersist()
  }

  /** ONE narrow job (no exchange, so AQE adds no stages): the corrupt
    * count, the tables with valid rows, and WARN lines for the first
    * [[MaxLoggedCorrupt]] corrupt rows, merged from per-partition
    * summaries on the driver. */
  private def census(batch: DataFrame): (Long, Set[String], Seq[String]) = {
    import batch.sparkSession.implicits._
    val parts = batch.select(substring(col(Cdc.Cols.CorruptReason), 1, 1000),
        col(Cdc.Cols.TargetTable), col("topic"), col("partition"), col("offset"))
      .mapPartitions { (rows: Iterator[Row]) =>
        var n = 0L
        val (tables, sample) = (scala.collection.mutable.Set.empty[String], Seq.newBuilder[String])
        rows.foreach { r =>
          if (r.isNullAt(0)) { if (!r.isNullAt(1)) tables += r.getString(1) }
          else {
            if (n < MaxLoggedCorrupt) sample += s"Corrupt record skipped: " +
              s"${r.get(0)} (topic=${r.get(2)}, partition=${r.get(3)}, offset=${r.get(4)})"
            n += 1
          }
        }
        Iterator((n, tables.toSeq, sample.result()))
      }.collect()
    (parts.map(_._1).sum, parts.flatMap(_._2).toSet,
      parts.toSeq.flatMap(_._3).take(MaxLoggedCorrupt))
  }

  /** One present table: parse schema, STRING-field overrides, key
    * schema, wire PKs, and the cased schema/PKs of the JDBC edge. */
  private final case class TablePlan(table: String, schema: StructType,
      overrides: Map[String, String], keySchema: StructType, pks: Seq[String],
      jdbcSchema: StructType, jdbcPks: Seq[String])

  /** Resolve one table's schemas and check its config; None when
    * nothing is inferable (no payloads for the table in this batch —
    * e.g. deletes only against a table that was never created). */
  private def tablePlan(batch: DataFrame, table: String,
      cfg: Config): Option[TablePlan] = {
    val schema = cfg.tableSchemas.getOrElse(table,
      graft.operators.SchemaInfer.infer(
        batch.sparkSession,
        batch.filter(col(Cdc.Cols.TargetTable) === table &&
          col(Cdc.Cols.CorruptReason).isNull),
        Cdc.Cols.ValueJson))
    if (schema.isEmpty) return None
    // Overrides hit STRING-declared fields only (the reference coerces
    // only string values, IidrToJdbcSinkTransform.java:246-252); the
    // EFFECTIVE schema — with overridden fields re-typed — drives DDL
    // and binding, so an order_date:date override creates a DATE column.
    val overrides = cfg.fieldTypeOverrides.filter { case (f, _) =>
      schema.fields.exists(sf => sf.name == f && sf.dataType == StringType) }
    val effSchema = StructType(schema.fields.map(f =>
      overrides.get(f.name)
        .map(t => f.copy(dataType = graft.operators.TypeOverrides.sparkType(t)))
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
    // so DDL declares it and the writer binds it from its PK column.
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

  /** DDL for every present table (and the DLQ table, given `corrupt`
    * rows) on one driver connection, then ONE write job over the
    * one-partition `batch`: the LWW window on (table, pk) needs no
    * exchange, and the corrupt rows ride it as a narrow `__dlq` branch.
    * Both legs retry transient failures from the driver (W17).
    * Returns the unroutable-row count. */
  private def writeTables(batch: DataFrame, plans: Seq[TablePlan],
      corrupt: Option[DataFrame], cfg: Config): Long = {
    if (plans.isEmpty && corrupt.isEmpty) return 0L
    // DDL on the driver, before executors touch the tables.
    withConnection(cfg) { conn =>
      val dialect = Dialects.forConnection(conn)
      plans.foreach(p => ensureTable(conn, dialect, p.table, p.jdbcSchema, p.jdbcPks, cfg))
      val dlq = dialect.normalizeIdent(cfg.corruptTable)
      if (corrupt.nonEmpty && !tableExists(conn, dlq))
        exec(conn, dialect.createTableSql(dlq, Cdc.corruptEventSchema, Seq.empty))
    }
    val slots = plans.zip(plans.scanLeft(2)((o, p) => o + p.pks.length + 1))
      .map { case (p, offset) => p.table -> (p, offset) }.toMap
    // W17: a transient failure re-runs the write job from the driver.
    // The failed attempt rolled back its one transaction and `batch` is
    // cached, so the re-run re-reads the same rows. Each attempt builds
    // its own plan and Observation: re-running a failed action on an
    // observed frame can report zero for the metrics of the retry.
    val counts = withTransientRetry("apply write job", cfg.maxRetries, cfg.retryBackoffMs) {
      val unroutable = Observation()
      // Union by name: each branch's rows read null in the other's
      // columns, so a row is a DLQ row exactly when `__dlq` is set.
      val out = (Option.when(plans.nonEmpty)(lwwRows(batch, plans, unroutable)) ++
        corrupt.map(c => c.select(struct(c.columns.map(col): _*).as("__dlq"))))
        .reduce(_.unionByName(_, allowMissingColumns = true))
      // No repartition: the one partition holds every (table, pk), and
      // one transaction covers every table and the DLQ rows.
      writePartitions(out, slots, out.schema.fieldNames.indexOf("__dlq"), cfg)
      if (plans.isEmpty) Map.empty[String, Any] else unroutable.get
    }
    plans.indices.map { i =>
      val n = counts(s"u$i").asInstanceOf[Long]
      if (n > 0)
        log.warn(s"$n record(s) for table ${plans(i).table} skipped: no " +
          s"primary-key value resolvable from key or value payload")
      n
    }.sum
  }

  /** Valid rows after last-write-wins on (table, pk): op, table, then
    * per table its PK columns and value struct. `unroutable` counts,
    * per table, the rows skipped for lack of a PK value. */
  private def lwwRows(batch: DataFrame, plans: Seq[TablePlan],
      unroutable: Observation): DataFrame = {
    val tableCol = col(Cdc.Cols.TargetTable)
    val ix = plans.indices
    val mine = plans.map(p => tableCol === p.table)
    // Table i's columns parse only table i's rows: `__v<i>`/`__k<i>`
    // (and so every `__pk<i>_<j>`) read null on other tables' rows, so
    // the window below compares each table's keys with its own typed
    // equality and keys need no string encoding.
    val parsed = batch
      .filter(col(Cdc.Cols.CorruptReason).isNull &&
        tableCol.isin(plans.map(_.table): _*))
      .withColumns(ix.flatMap(i => Seq(
        s"__v$i" -> when(mine(i), from_json(col(Cdc.Cols.ValueJson), plans(i).schema)),
        s"__k$i" -> when(mine(i), from_json(col(Cdc.Cols.KeyJson), plans(i).keySchema))
      )).toMap)
      .withColumns(ix.filter(plans(_).overrides.nonEmpty).map(i => s"__v$i" ->
        plans(i).overrides.foldLeft(col(s"__v$i")) { case (v, (f, t)) =>
          v.withField(f, graft.operators.TypeOverrides.coerce(v.getField(f), t))
        }).toMap)
    // PK columns: key struct for deletes, value struct otherwise
    // (IidrCdcSinkTask.java:186-195 / JdbcWriter.java:208-221). Either
    // struct may LACK the field (pinned value schema without the PK,
    // or no key schema configured) — referencing a missing struct
    // field would fail analysis, so both sides are schema-guarded.
    val pkCols = ix.map(i => plans(i).pks.indices.map(j => s"__pk${i}_$j"))
    val keyed = parsed.withColumns(ix.flatMap { i =>
      val p = plans(i)
      def field(s: StructType, struct: String, pk: String) =
        if (s.fieldNames.contains(pk)) Some(col(struct).getField(pk)) else None
      p.pks.zip(pkCols(i)).map { case (pk, name) =>
        val fromKey = field(p.keySchema, s"__k$i", pk)
        val fromValue = field(p.schema, s"__v$i", pk)
        name -> when(col(Cdc.Cols.Op) === Cdc.Op.Delete,
          fromKey.orElse(fromValue).getOrElse(lit(null)))
          .otherwise(coalesce((fromValue.toSeq ++ fromKey.toSeq :+ lit(null)): _*))
      }
    }.toMap)

    // Valid JSON that lacks the PK fields cannot be routed: warn +
    // skip + count, like the reference's "no PK fields => warn + skip"
    // (JdbcWriter.java:208-221) — never a silent drop. An Observation
    // counts them per table on the write plan itself, so the count
    // rides the write job instead of costing one of its own.
    val routable = ix.map(i => mine(i) && pkCols(i).map(col(_).isNotNull).reduce(_ && _))
    val metrics = ix.map(i => count(when(mine(i) && !routable(i), true)).as(s"u$i"))
    CdcOps.lastWriteWins(
      keyed.observe(unroutable, metrics.head, metrics.tail: _*)
        .filter(routable.reduce(_ || _)),
      Cdc.Cols.TargetTable, pkCols.flatten, "offset")
      .select((col(Cdc.Cols.Op) +: tableCol +:
        ix.flatMap(i => pkCols(i).map(col) :+ col(s"__v$i"))): _*)
  }

  /** Write every nonempty partition of `out` on a fresh connection
    * inside one transaction: commit on success, rollback + rethrow on
    * failure (IidrCdcSinkTask.java:143-154). A row whose `__dlq` column
    * (`dlqIx`, -1 when absent) is set goes to the [[DlqWriter]], any
    * other to its table's [[TableWriter]]. The rows stream once: a
    * retry re-runs the whole job from the driver (see [[writeTables]]). */
  private def writePartitions(out: DataFrame, slots: Map[String, (TablePlan, Int)],
      dlqIx: Int, cfg: Config): Unit =
    out.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val conn = connect(cfg.url, cfg.user, cfg.password)
        try {
          conn.setAutoCommit(false)
          val dialect = Dialects.forConnection(conn)
          val writers = scala.collection.mutable.Map.empty[Option[String], RowWriter]
          rows.foreach { row => // key None: the DLQ
            val key = if (dlqIx >= 0 && !row.isNullAt(dlqIx)) None else Some(row.getString(1))
            writers.getOrElseUpdate(key, key.fold[RowWriter](new DlqWriter(conn, dialect, cfg, dlqIx)) {
              t => new TableWriter(conn, dialect, slots(t)._1, slots(t)._2, cfg.batchSize)
            }).write(row)
          }
          writers.values.foreach(_.finish())
          conn.commit()
        } catch { case e: Throwable => rollbackQuietly(conn); throw e }
        finally closeQuietly(conn)
      }
    }

  /** One table's statements inside a partition's transaction:
    * PreparedStatement reuse and batched ops over the table's slice of
    * each row, which starts at `offset` (PK values, then the value
    * struct). */
  private sealed trait RowWriter { def write(row: Row): Unit; def finish(): Unit }

  private final class TableWriter(conn: Connection, dialect: Dialect,
      p: TablePlan, offset: Int, batchSize: Int) extends RowWriter {
    private val (valueCols, pks) = (p.jdbcSchema.fieldNames.toSeq, p.jdbcPks)
    private val t = dialect.normalizeIdent(p.table)
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

    def write(row: Row): Unit = {
      val op = row.getString(0)
      val pkVals = pks.indices.map(i => jdbcValue(row.get(offset + i)))
      if (op == Cdc.Op.Delete) {
        pkVals.zipWithIndex.foreach { case (v, i) => delete.setObject(i + 1, v) }
        delete.addBatch(); nDel += 1
        if (nDel % batchSize == 0) delete.executeBatch()
      } else {
        val v = row.getStruct(offset + pks.length)
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

  /** Auto-create / auto-evolve (JdbcWriter.java:326-372). */
  private def ensureTable(conn: Connection, dialect: Dialect, table: String,
      schema: StructType, pks: Seq[String], cfg: Config): Unit = {
    val t = dialect.normalizeIdent(table)
    if (!tableExists(conn, t)) {
      if (!cfg.autoCreate)
        throw new IllegalStateException(s"table $t missing and autoCreate=false")
      exec(conn, dialect.createTableSql(t, schema, pks))
    } else if (cfg.autoEvolve) {
      // Locale.ROOT like every identifier fold in this file — the
      // default-locale toLowerCase would mis-compare "ID" under tr-TR
      // and spuriously ADD a duplicate column.
      val existing = columnsOf(conn, t).map(_.toLowerCase(java.util.Locale.ROOT))
      schema.fields.filterNot(f =>
          existing.contains(f.name.toLowerCase(java.util.Locale.ROOT)))
        .foreach(f => exec(conn, dialect.addColumnSql(t, f)))
    }
  }

  /** The DLQ table's statements inside a partition's transaction.
    * REPLAY-IDEMPOTENT: Kafka coordinates (topic, partition, offset)
    * identify a corrupt row globally, so a redelivered foreachBatch or
    * a retried attempt REPLACES its own DLQ rows instead of appending
    * duplicates, where the reference blind-inserts
    * (CorruptEventWriter.java:37-114). Delete-then-insert by
    * coordinates, chunked so memory stays at batchSize rows, inside the
    * partition's one transaction so a crash between the phases can't
    * lose rows. */
  private final class DlqWriter(conn: Connection, dialect: Dialect, cfg: Config,
      dlqIx: Int) extends RowWriter {
    private val fields = Cdc.corruptEventSchema.fieldNames.toSeq
    private val t = dialect.quote(dialect.normalizeIdent(cfg.corruptTable))
    private val ins = conn.prepareStatement(
      s"INSERT INTO $t (${fields.map(dialect.quote).mkString(", ")}) " +
        s"VALUES (${fields.map(_ => "?").mkString(", ")})")
    private val del = conn.prepareStatement(s"DELETE FROM $t WHERE " +
      Seq("topic", "kafka_partition", "kafka_offset")
        .map(c => s"${dialect.quote(c)} = ?").mkString(" AND "))
    private val chunk = scala.collection.mutable.ArrayBuffer.empty[Row]

    def write(row: Row): Unit = {
      chunk += row.getStruct(dlqIx)
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

  /** Credentialed connect (serializable inputs only — executors call
    * this with plain strings captured in the task closure). Properties
    * form so a password WITHOUT a user (username riding the URL) is
    * still forwarded instead of silently dropped. */
  private def connect(url: String, user: Option[String],
      password: Option[String]): Connection =
    if (user.isEmpty && password.isEmpty) DriverManager.getConnection(url)
    else {
      val p = new java.util.Properties()
      user.foreach(p.setProperty("user", _))
      password.foreach(p.setProperty("password", _))
      DriverManager.getConnection(url, p)
    }

  /** Driver-side connection scope with the same W17 transient retry
    * as the write job: the connect itself is the failure mode a
    * flapping database shows FIRST (SQLState 08xxx before any write),
    * and without retry here an epoch dies in `ensureTable` while its
    * write job would have retried. A transient failure re-runs
    * `f` on a fresh connection, so `f` must be idempotent from scratch
    * (the DDL body is: existence-guarded CREATE/ALTER). A close()
    * failure AFTER `f` completed logs and returns: one leaked
    * connection, not a duplicated DDL execution. */
  private def withConnection[A](cfg: Config)(f: Connection => A): A =
    withTransientRetry(s"driver connection/DDL to ${cfg.url}",
      cfg.maxRetries, cfg.retryBackoffMs) {
      val conn = connect(cfg.url, cfg.user, cfg.password)
      try f(conn) finally closeQuietly(conn)
    }

  /** Escape JDBC metadata search-pattern wildcards ('_' and '%') so
    * table names like streaming_corrupt_events match literally. */
  private def escapePattern(conn: Connection, name: String): String = {
    val esc = conn.getMetaData.getSearchStringEscape
    name.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
  }

  private def tableExists(conn: Connection, table: String): Boolean = {
    val rs = conn.getMetaData.getTables(
      null, null, escapePattern(conn, table), Array("TABLE"))
    try rs.next() finally rs.close()
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
