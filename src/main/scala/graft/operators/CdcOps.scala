package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Cdc

/**
 * Pure, declarative CDC operators (SURVEY.md §2.2–2.6). Every operator
 * is a `Column` expression or a `DataFrame => DataFrame` transform built
 * from codegen'd builtins, so Catalyst can push filters / prune columns
 * / fold constants across the whole chain — the reference's hand-wired
 * Java per-record loop (IidrCdcSinkTask.processRecord,
 * IidrCdcSinkTask.java:161-217) becomes a single whole-stage-codegen
 * span at 100 TB scale.
 */
object CdcOps {

  // ----------------------------------------------------------------- H1
  /**
   * Header extraction: LAST header wins (headers().lastWithName, see
   * HeaderExtractor.java:26-48). `headers` is the Kafka-source
   * array<struct<key:string,value:binary>>; bytes are decoded UTF-8.
   */
  def headerString(headers: Column, name: String): Column =
    decode(
      try_element_at(filter(headers, h => h.getField("key") === lit(name)), lit(-1))
        .getField("value"),
      "UTF-8")

  // ----------------------------------------------------------------- H2
  /**
   * Required-header validation (HeaderExtractor.java:76-88): missing
   * TableName or A_ENTTYP ⇒ corrupt; A_TIMSTAMP is optional. Returns a
   * nullable reason column (null = valid).
   */
  def missingHeaderReason(tableName: Column, entryType: Column,
      tableHeader: String = Cdc.Headers.TableName,
      entryTypeHeader: String = Cdc.Headers.EntryType): Column =
    when(tableName.isNull, lit(s"Missing required header: $tableHeader"))
      .when(entryType.isNull, lit(s"Missing required header: $entryTypeHeader"))

  // ----------------------------------------------------------------- P1
  /**
   * Entry-type → operation map (EntryTypeMapper.java:20-50): trims and
   * upper-cases, {PT,RR,PX,UP,FI,FP,UR}→UPSERT, {DL,DR}→DELETE, unknown
   * → null (caller records a corrupt reason).
   */
  def mapEntryType(entryType: Column): Column = {
    val e = upper(trim(entryType))
    when(e.isin(Cdc.UpsertEntryTypes: _*), lit(Cdc.Op.Upsert))
      .when(e.isin(Cdc.DeleteEntryTypes: _*), lit(Cdc.Op.Delete))
  }

  /** Corrupt reason for an unmapped entry type (IidrCdcSinkTask.java:180-183). */
  def unknownEntryTypeReason(entryType: Column, op: Column): Column =
    when(entryType.isNotNull && op.isNull,
      concat(lit("Unknown entry type: "), upper(trim(entryType))))

  // ----------------------------------------------------------------- P2
  /**
   * Operation-shape validation (IidrCdcSinkTask.java:185-195): DELETE
   * requires a non-null key; UPSERT/INSERT/UPDATE require a non-null
   * value.
   */
  def shapeReason(op: Column, key: Column, value: Column): Column = {
    // get_json_object(c, '$') is null iff c is not parseable JSON —
    // converter failures route to the DLQ instead of crashing the
    // apply with a null primary key (reference: corrupt-events path
    // for deserialization errors).
    def malformed(c: Column) = c.isNotNull && get_json_object(c, "$").isNull
    when(op === Cdc.Op.Delete && key.isNull,
      lit("DELETE record has no key"))
      .when(op === Cdc.Op.Delete && malformed(key),
        lit("DELETE record key is not valid JSON"))
      .when(op =!= Cdc.Op.Delete && op.isNotNull && value.isNull,
        lit("Record has no value"))
      .when(op =!= Cdc.Op.Delete && op.isNotNull && malformed(value),
        lit("Record value is not valid JSON"))
  }

  // ----------------------------------------------------------------- P3
  /**
   * Table-name template routing (IidrCdcSinkTask.java:222-227):
   * `table.name.format` with `${TableName}` / `${topic}` substitution.
   * Template is a config constant, so this folds to cheap concat.
   */
  def resolveTargetTable(format: String, tableName: Column, topic: Column): Column = {
    val parts = format.split("(?=\\$\\{)|(?<=\\})").toSeq
    val cols = parts.map {
      case "${TableName}" => tableName
      case "${topic}"     => topic
      case litPart        => lit(litPart)
    }
    if (cols.isEmpty) lit(format) else concat(cols: _*)
  }

  // ----------------------------------------------------------------- T3
  /** Identifier case conversion (IidrToJdbcSinkTransform.java:212-220). */
  def applyIdentifierCase(ident: Column, mode: String): Column = mode match {
    case "lower" => lower(ident)
    case "upper" => upper(ident)
    case _       => ident
  }

  // ----------------------------------------------------------------- P4/P5
  /**
   * Literal table filter (IidrCdcSinkTask.java:292-309): when
   * `table.name.format` has no placeholder, silently SKIP (not corrupt)
   * records whose TableName header differs.
   */
  def tableFilterLiteral(df: DataFrame, tableName: Column, format: String): DataFrame =
    if (format.contains("${")) df
    else df.filter(tableName === lit(format))

  // ----------------------------------------------------------------- P6
  /** Regex topic filter (LegacyCharsetTransform.java:106-116); empty = match all. */
  def topicFilterRegex(df: DataFrame, topic: Column, patterns: Seq[String]): DataFrame =
    if (patterns.isEmpty) df
    else df.filter(patterns.map(p => topic.rlike(p)).reduce(_ || _))

  // ----------------------------------------------------------------- P8/W13
  /**
   * Tombstone rewrite (IidrToJdbcSinkTransform.java:177-186): DELETE ⇒
   * null value so a downstream delete-enabled sink removes by PK.
   */
  def tombstoneValue(op: Column, value: Column): Column =
    when(op =!= Cdc.Op.Delete || op.isNull, value)

  // ----------------------------------------------------------------- G1/G2 + ordering
  /**
   * Last-write-wins collapse (SURVEY.md §2.6 ordering note): the
   * reference applies events in Kafka offset order within a partition;
   * a distributed apply must instead keep only the LATEST event per
   * (table, key) within a micro-batch — same terminal state,
   * order-insensitive. One shuffle on (table, key), or none when the
   * input is already hash-partitioned by them, as the batch CDC
   * queries' keyed feed is (SparkEntry.keyedValid).
   *
   * Skew note (verified via explain): Spark plans the rank<=1 filter
   * as WindowGroupLimit with a PARTIAL pass before the exchange, so a
   * hot key collapses to one row per map partition BEFORE it
   * shuffles — the classic "millions of updates to one key in a
   * batch" skew case never concentrates on a single reducer. No
   * manual salting needed. Over clustered input there is no exchange,
   * and Spark plans only the final limit.
   *
   * Tie caveat: offsets must be unique per (table, key) within the
   * batch (true for a single Kafka partition per key, which the
   * source guarantees); equal offsets would make the kept row
   * sort-order dependent.
   */
  def lastWriteWins(df: DataFrame, tableCol: String, keyCols: Seq[String],
      offsetCol: String): DataFrame = {
    val w = Window
      .partitionBy((tableCol +: keyCols).map(col): _*)
      .orderBy(col(offsetCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  // ----------------------------------------------------------------- apply-merge
  /**
   * Batch CDC apply (SURVEY.md §7.2 M1): fold a collapsed change-set
   * into a snapshot. `changes` must already be last-write-wins per key
   * and carry an `op` column (UPSERT/DELETE) plus the snapshot's
   * columns for upsert rows.
   *
   * Plan shape: one shuffle (the LWW window upstream) + one join. The
   * anti-join side reuses the snapshot scan; at scale the change-set is
   * typically ≪ snapshot, so we broadcast it when small — at 100 TB
   * the snapshot never moves, only changed keys shuffle.
   */
  def applyChanges(snapshot: DataFrame, changes: DataFrame,
      keyCols: Seq[String], broadcastChanges: Boolean = true): DataFrame = {
    val cols = snapshot.columns.toSeq
    val touchedKeys0 = changes.select(keyCols.map(col): _*).distinct()
    val touchedKeys = if (broadcastChanges) broadcast(touchedKeys0) else touchedKeys0
    val survivors = snapshot.join(touchedKeys, keyCols, "left_anti")
    val upserted = changes
      .filter(col(Cdc.Cols.Op) === Cdc.Op.Upsert)
      .select(cols.map(col): _*)
    survivors.unionByName(upserted)
  }

  /**
   * ZERO-EXCHANGE batch CDC apply — [[applyChanges]] over the bucketed
   * storage layout (graft.sources.Bucketed). The recurring cost of the
   * apply at 100 TB is re-shuffling the snapshot for the anti-join
   * every batch once the change-set outgrows the broadcast threshold;
   * with BOTH sides stored bucketed (and sorted) by the primary key at
   * the same bucket count, the anti-join sort-merges bucket i against
   * bucket i straight off parquet and the whole apply plans with NO
   * exchange on either side (asserted in BucketedJoinSpec):
   *
   *   - snapshot table: the standing state, bucketed by `key` once at
   *     write time (its own previous apply output);
   *   - changes table: the collapsed ([[lastWriteWins]]) change-set,
   *     written bucketed by the same key — ONE small-side shuffle at
   *     write time, amortized across every downstream co-located read;
   *   - the touched-keys distinct also rides the bucketed distribution
   *     (partial+final aggregate, no exchange).
   *
   * Writing the apply output back bucketed (the next snapshot) closes
   * the loop: steady-state CDC apply whose only exchange, per cycle,
   * is laying out the incoming change-set.
   */
  def applyChangesBucketed(spark: org.apache.spark.sql.SparkSession,
      snapshotTable: String, changesTable: String, key: String): DataFrame =
    applyChanges(spark.table(snapshotTable), spark.table(changesTable),
      Seq(key), broadcastChanges = false)

  /**
   * CLOSE the bucketed-apply loop: [[applyChangesBucketed]] + bucketed
   * write of the result + table swap, so the steady-state compaction
   * cycle is ONE call and `snapshotTable` remains the stable handle
   * across cycles. The cycle's only exchange is laying out the new
   * snapshot at write time — the apply itself plans none, and because
   * the output is written bucketed by the same key, the NEXT cycle's
   * apply is exchange-free again (asserted for two consecutive cycles
   * in BucketedJoinSpec).
   *
   * `outPath` must be a FRESH path (versioned per cycle): the write
   * streams from the old snapshot's files while producing the new
   * ones, so writing over the live path would read-under-write. The
   * table swap is metadata-only (external tables — dropping the old
   * entry never deletes data); retire the previous cycle's path after
   * the swap commits.
   *
   * `numBuckets` must match the standing snapshot's bucket count —
   * the co-location contract every cycle renews.
   */
  def compactSnapshot(spark: org.apache.spark.sql.SparkSession,
      snapshotTable: String, changesTable: String, key: String,
      numBuckets: Int, outPath: String): Unit = {
    val next = snapshotTable + "__next"
    spark.sql(s"DROP TABLE IF EXISTS $next")
    graft.sources.Bucketed.writeBucketed(
      applyChangesBucketed(spark, snapshotTable, changesTable, key),
      next, outPath, key, numBuckets)
    spark.sql(s"DROP TABLE $snapshotTable")
    spark.sql(s"ALTER TABLE $next RENAME TO $snapshotTable")
  }

  /**
   * The fully-turnkey steady-state loop: [[compactSnapshot]] plus the
   * retention discipline its scaladoc asks the caller for. Snapshot
   * versions live as `root/v<N>` directories; each call writes the
   * next version, swaps the table handle, then PRUNES every version
   * directory older than the newest `keep` — so the loop never leaks
   * paths and never deletes one the write just streamed from (the
   * prune runs strictly after the swap commits).
   *
   * `keep` ≥ 1; the newest version (the live table's data) is always
   * retained. keep = 1 reclaims the previous version the moment the
   * swap lands — correct for a single-driver loop, but a deployment
   * with concurrent readers still scanning the old files wants
   * keep ≥ 2 (the default) so a version survives one full cycle of
   * reader grace. Only `root/v<N>` directories are managed: a
   * bootstrap snapshot bucketed at some other path is never touched,
   * so the first call is safe from any starting layout. Paths go
   * through the Hadoop FileSystem API, so root may be any Spark-
   * reachable filesystem (HDFS/S3/local), not just local disk.
   *
   * @return the live version's path (what the table handle now reads)
   */
  def compactSnapshotRetained(spark: org.apache.spark.sql.SparkSession,
      snapshotTable: String, changesTable: String, key: String,
      numBuckets: Int, root: String, keep: Int = 2): String = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val VersionDir = "^v(\\d+)$".r
    def versions(): Seq[(Long, Path)] =
      (if (fs.exists(rootPath)) fs.listStatus(rootPath).toSeq else Nil)
        .filter(_.isDirectory)
        .flatMap(st => st.getPath.getName match {
          case VersionDir(n) => Some(n.toLong -> st.getPath)
          case _ => None
        })
        .sortBy(_._1)
    val nextV = versions().lastOption.map(_._1 + 1).getOrElse(0L)
    compactSnapshot(spark, snapshotTable, changesTable, key, numBuckets,
      s"$root/v$nextV")
    // swap committed — now (and only now) retire old versions
    versions().dropRight(keep).foreach { case (_, p) => fs.delete(p, true) }
    s"$root/v$nextV"
  }

  // ----------------------------------------------------------------- scd2
  /**
   * Slowly-changing-dimension Type-2 history from an ordered CDC
   * change feed (SURVEY.md §2.5 extension): every UPSERT opens a
   * version, the next event on the same (table, key) — UPSERT or
   * DELETE — closes it. DELETEs close the prior version without
   * opening one. Emits per surviving version:
   *
   *   - `valid_from_offs` / `valid_to_offs` — the half-open version
   *     interval in source-offset coordinates (`valid_to_offs` NULL for
   *     the open head version);
   *   - `version` — 1-based UPSERT ordinal within the key;
   *   - `is_current` — open interval;
   *   - `closed_by_delete` — the closing event was a DELETE.
   *
   * Plan shape: ONE exchange + ONE sort on (table, key, offset). The
   * lead() pass runs over all events and the row_number() pass over
   * the UPSERT subset, but both windows share the partitioning and
   * ordering, so Catalyst plans them over a single shuffle — the
   * standard SCD2 shape that holds at 100 TB (state per key is just
   * its event count; no driver-side iteration).
   *
   * Same tie caveat as [[lastWriteWins]]: `offsetCol` must be unique
   * per (table, key).
   */
  def scd2History(df: DataFrame, tableCol: String, keyCols: Seq[String],
      offsetCol: String, opCol: String): DataFrame = {
    val part = (tableCol +: keyCols).map(col)
    val wAll = Window.partitionBy(part: _*).orderBy(col(offsetCol))
    val closed = df
      .withColumn("valid_to_offs", lead(col(offsetCol), 1).over(wAll))
      .withColumn("closed_by_delete",
        coalesce(lead(col(opCol), 1).over(wAll) === Cdc.Op.Delete, lit(false)))
    closed
      .filter(col(opCol) === Cdc.Op.Upsert)
      .withColumn("version", row_number().over(wAll).cast("long"))
      .withColumn("valid_from_offs", col(offsetCol))
      .withColumn("is_current", col("valid_to_offs").isNull)
  }

  // ----------------------------------------------------------------- W11
  /**
   * Corrupt-event DLQ projection (CorruptEventWriter.java:37-114):
   * shape the corrupt branch as `streaming_corrupt_events` rows; reason
   * truncated to 1000 chars (CorruptEventWriter.java:98).
   */
  def toCorruptEvents(df: DataFrame, topic: Column, partition: Column,
      offset: Column, recordKey: Column, recordValue: Column,
      headersJson: Column, reason: Column, tableName: Column,
      entryType: Column): DataFrame =
    df.filter(reason.isNotNull).select(corruptEventColumns(topic, partition,
      offset, recordKey, recordValue, headersJson, reason, tableName, entryType): _*)

  /** The `streaming_corrupt_events` columns of [[toCorruptEvents]], for
    * a caller that carries them beside other rows. */
  def corruptEventColumns(topic: Column, partition: Column,
      offset: Column, recordKey: Column, recordValue: Column,
      headersJson: Column, reason: Column, tableName: Column,
      entryType: Column): Seq[Column] = Seq(
    topic.as("topic"),
    partition.as("kafka_partition"),
    offset.as("kafka_offset"),
    recordKey.as("record_key"),
    recordValue.as("record_value"),
    headersJson.as("headers"),
    substring(reason, 1, 1000).as("error_reason"),
    tableName.as("table_name"),
    entryType.as("entry_type"))

  /**
   * Offset-continuity audit — the lost-event detector a CDC consumer
   * runs against its committed stream: Kafka offsets are dense per
   * partition, so any jump (offset > prev + 1) inside a partition is
   * a gap of `missing = offset − prev − 1` records that were acked
   * upstream but never processed here. Emits one row per gap with its
   * inclusive [gap_start, gap_end] range.
   *
   * Scale shape: one window pass on the partition columns — the same
   * per-partition exchange every other per-partition op reuses; the
   * output is gaps only (empty when healthy).
   */
  def offsetGaps(events: DataFrame, partCols: Seq[String],
      offsetCol: String): DataFrame = {
    require(partCols.nonEmpty, "offsetGaps needs partition columns")
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(col(offsetCol))
    events
      .withColumn("__prev", lag(col(offsetCol), 1).over(w))
      .where(col("__prev").isNotNull && col(offsetCol) > col("__prev") + 1)
      .select(partCols.map(col) ++ Seq(
        (col("__prev") + 1).as("gap_start"),
        (col(offsetCol) - 1).as("gap_end"),
        (col(offsetCol) - col("__prev") - 1).as("missing")): _*)
  }
}
