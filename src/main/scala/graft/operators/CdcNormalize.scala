package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{Cdc, CdcConfig}

/**
 * The normalize chain (SURVEY.md §3.1 steps 2-8): Kafka-wire records →
 * flat normalized CDC events with extracted headers, mapped operation,
 * resolved target table, and `corrupt_reason` side-channel. Entirely
 * narrow (no shuffle) and whole-stage-codegen'd — at 100 TB this is a
 * single pipelined pass over the source partitions.
 *
 * Input shape: Cdc.kafkaWireSchema (key/value binary, headers array,
 * topic, partition, offset).
 */
object CdcNormalize {

  /** Built in three projections, one per dependency level (one
    * analyzer pass per level, not one per column): the headers, then
    * the ISO time, decoded JSON, op and target table, then
    * `corrupt_reason`. The JSON decodes sit with the second level, as
    * they did when each column was its own projection, so the
    * optimized plan is unchanged, and the columns come out in step
    * order. */
  def apply(wire: DataFrame, cfg: CdcConfig = CdcConfig()): DataFrame = {
    import Cdc.Cols
    val headers = wire.select(col("*"),
      CdcOps.headerString(col("headers"), cfg.tableHeader).as(Cols.TableName),
      CdcOps.headerString(col("headers"), cfg.entryTypeHeader).as(Cols.EntryType),
      CdcOps.headerString(col("headers"), Cdc.Headers.Timestamp).as(Cols.SourceTs))

    val routed = headers.select(col("*"),
      // Step 5 of the reference task (IidrCdcSinkTask.java:197-201):
      // localize A_TIMSTAMP with the configured zone; null stays null.
      // (Reads the source_ts column built above — one header
      // extraction, definitionally in sync.)
      graft.functions.Timestamps.iidrTimestampToIsoZoned(
        col(Cols.SourceTs), cfg.timestampZone).as(Cols.SourceTsIso),
      decode(col("key"), "UTF-8").as(Cols.KeyJson),
      decode(col("value"), "UTF-8").as(Cols.ValueJson),
      CdcOps.mapEntryType(col(Cols.EntryType)).as(Cols.Op),
      CdcOps.applyIdentifierCase(
        CdcOps.resolveTargetTable(cfg.tableNameFormat,
          col(Cols.TableName), col("topic")),
        cfg.identifierCase).as(Cols.TargetTable))

    // Corrupt checks in the reference's order (IidrCdcSinkTask.java:161-217):
    // required headers → entry-type mapping → operation shape.
    routed.select(col("*"), coalesce(
      CdcOps.missingHeaderReason(col(Cols.TableName), col(Cols.EntryType),
        cfg.tableHeader, cfg.entryTypeHeader),
      CdcOps.unknownEntryTypeReason(col(Cols.EntryType), col(Cols.Op)),
      CdcOps.shapeReason(col(Cols.Op), col(Cols.KeyJson), col(Cols.ValueJson)))
      .as(Cols.CorruptReason))
  }
}
