package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.model.CdcConfig
import graft.operators.CdcNormalize
import graft.sinks.JdbcApply

/**
 * Structured-Streaming shell (SURVEY.md §7.2 M3): Kafka-wire records →
 * foreachBatch { normalize chain → JDBC apply } (+ DLQ side-branch
 * inside the same write job).
 *
 *   Kafka topic {prefix}.{schema}.{table}
 *     → spark.readStream.format("kafka").option("includeHeaders", true)
 *     → foreachBatch {
 *         JdbcApply.applyBatch(CdcNormalize(batch))  // upsert/delete + DLQ
 *       }
 *
 * Effectively-once: offsets are checkpointed per micro-batch and the
 * apply is an idempotent upsert/delete by PK, so replay after failure
 * converges to the same terminal state (reference's exactly-once story,
 * sink README.md:8). The apply writes a micro-batch from ONE task with
 * no shuffle, whatever the number of tables, like the reference's
 * one-task poll: one Spark job, whose task counts, dead-letters, runs
 * DDL and writes. The streaming query plans only its source; each
 * micro-batch is normalized inside `foreachBatch`, so the stream runs
 * the same call as the direct path, `applyBatch(CdcNormalize(batch))`,
 * and the optimizer sees normalize and apply as one plan. The apply
 * coalesces the batch to one partition, and the coalesce is narrow, so
 * CdcNormalize runs inside that same task: on this path a micro-batch
 * is normalized by one core, not one task per Kafka partition. The
 * batch queries over `CdcNormalize` keep the source's parallelism.
 *
 * W17 retry (`JdbcApply.Config.maxRetries`) re-runs a failed write job
 * from the driver, which reads the micro-batch again; the task itself
 * writes its rows once. On a cluster, Spark's own task retries
 * (`spark.task.maxFailures`, 4 by default; 1 under `local[N]`) run
 * inside each W17 attempt, so a transient failure can be tried up to
 * maxFailures × (maxRetries + 1) times before the epoch fails. Set
 * `spark.task.maxFailures` to 1, or `maxRetries` to 0, to keep one
 * retry loop.
 */
object CdcStream {

  /** Kafka-wire source for a live broker. */
  def kafkaSource(spark: SparkSession, bootstrap: String, topics: String,
      maxOffsetsPerTrigger: Long = 500000): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topics)
      .option("includeHeaders", "true")
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .load()

  /**
   * Wire any kafka-shaped streaming DataFrame (live broker or
   * MemoryStream/file source in tests) into the normalize →
   * JDBC-apply pipeline. The stream itself carries the wire rows
   * untouched: each trigger plans only the source, and `foreachBatch`
   * runs `JdbcApply.applyBatch(CdcNormalize(batch, cdcCfg), sinkCfg)`,
   * the direct path's call, on the planned batch. Starting the stream
   * therefore builds no normalize plan, and the streaming query's
   * progress and plan hold no normalize-side columns or counts; those
   * come from the apply's own result. The checkpoint holds only source
   * offsets and the commit log, so a checkpoint written by a stream
   * that normalized before `foreachBatch` restarts under this writer
   * and replays its uncommitted epoch.
   *
   * `onBatch` is the per-micro-batch observability seam: it receives
   * the epoch id and the apply's [[JdbcApply.ApplyStats]] strictly
   * AFTER the JDBC writes of that epoch committed (the reference
   * surfaces the same counters through Connect's task metrics). A
   * callback that throws fails the epoch after its writes — exactly
   * the crash window Structured Streaming's replay story covers:
   * offsets are logged before the batch runs, the commit log lands
   * after, so a restart re-runs the epoch and the idempotent
   * upsert/delete/DLQ apply converges to the same terminal state
   * (pinned by the kill/restart case in `JdbcStreamSpec`).
   */
  def writer(wire: DataFrame, cdcCfg: CdcConfig, sinkCfg: JdbcApply.Config,
      onBatch: (Long, JdbcApply.ApplyStats) => Unit = (_, _) => ()):
      DataStreamWriter[Row] =
    wire.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        onBatch(epochId, JdbcApply.applyBatch(CdcNormalize(batch, cdcCfg), sinkCfg)); ()
      }

  /**
   * The reference's MongoDB topology as ONE streaming plan (S4 → W15:
   * mongodb-source.json unwrap + mongodb-sink.json ReplaceOne):
   * Debezium Mongo envelopes → ExtractNewDocumentState (deletes →
   * null, i.e. tombstones) → per-micro-batch ReplaceOne-by-_id apply.
   * MongoApply's tombstone drop is exactly the sink config's
   * RecordIsTombstone filter, so the chained semantics match the two
   * connector configs end to end.
   */
  def mongoWriter(envelopes: DataFrame, envelopeCol: String,
      offsetCol: String, cfg: graft.sinks.MongoApply.Config):
      DataStreamWriter[Row] =
    envelopes.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sinks.MongoApply.applyBatch(
          batch.withColumn("__doc",
            graft.operators.Envelope.extractNewDocumentState(
              org.apache.spark.sql.functions.col(envelopeCol))),
          "__doc", offsetCol, cfg); ()
      }

  /**
   * File sink (W16, reference file-sink.json / Confluent S3 JSON
   * sink): append normalized events as json/parquet partitioned by
   * target table — the archive/lake branch of the pipeline.
   */
  def fileSink(normalized: DataFrame, path: String, format: String,
      checkpoint: String): DataStreamWriter[Row] =
    normalized.writeStream
      .format(format)
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("target_table")
      .outputMode("append")

  /** Start the full pipeline against a live Kafka broker. */
  def start(spark: SparkSession, bootstrap: String, topics: String,
      cdcCfg: CdcConfig, sinkCfg: JdbcApply.Config,
      checkpoint: String, triggerMs: Long = 1000): StreamingQuery =
    start(kafkaSource(spark, bootstrap, topics), cdcCfg, sinkCfg,
      checkpoint, triggerMs)

  /** Start the pipeline over ANY kafka-wire-shaped streaming frame —
    * the broker `start` minus the source, so an offline harness (file
    * source, MemoryStream) drives the exact production writer chain,
    * checkpointing included. */
  def start(wire: DataFrame, cdcCfg: CdcConfig,
      sinkCfg: JdbcApply.Config, checkpoint: String, triggerMs: Long,
      onBatch: (Long, JdbcApply.ApplyStats) => Unit): StreamingQuery =
    writer(wire, cdcCfg, sinkCfg, onBatch)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .start()

  def start(wire: DataFrame, cdcCfg: CdcConfig,
      sinkCfg: JdbcApply.Config, checkpoint: String,
      triggerMs: Long): StreamingQuery =
    start(wire, cdcCfg, sinkCfg, checkpoint, triggerMs, (_, _) => ())
}
