package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.CdcOps

/**
 * Document-store apply (SURVEY.md §2.7 W15): the Spark rebuild of the
 * reference's MongoDB sink pipeline (`hack/sink-mongodb/mongodb-sink
 * .json:13-20`), which is configuration over the official connector:
 *
 *  - document id  = the value document's own `_id`
 *    (`ProvidedInValueStrategy`);
 *  - write model  = ReplaceOne by `_id` with upsert
 *    (`ReplaceOneDefaultStrategy`);
 *  - tombstones   = dropped BEFORE the sink (`RecordIsTombstone`
 *    predicate + Filter transform) — deletes never reach the target.
 *
 * Batch shape (the foreachBatch twin of [[JdbcApply.applyBatch]]):
 *  1. drop tombstones (null value), then rows without an `_id` — the
 *     connector's id strategy would fail those; we count them instead;
 *  2. last-write-wins collapse per `_id` on offset — the
 *     order-insensitive equivalent of the connector's per-key Kafka
 *     ordering (ONE shuffle, hash-partitioned by `_id`);
 *  3. per-partition ReplaceOne loop over the collapse's own
 *     partitions: the LWW exchange already puts every version of a
 *     document in one partition, so no two connections ever race on
 *     one document, and no second exchange is planned. Replays are
 *     idempotent: ReplaceOne-upsert of the same document is a no-op.
 *
 * The MongoDB wire driver is NOT part of this library (and not present
 * in this build environment — README "Scope"): executors talk to the
 * target through the [[DocumentStore]] seam, the dialect-style
 * interface a deployment implements as a thin `MongoCollection
 * .replaceOne(eq("_id", id), doc, upsert)` adapter. The spec drives
 * the full plan through an in-memory store.
 */
object MongoApply {

  /**
   * Per-partition handle to a document collection. Implementations
   * must be obtainable ON AN EXECUTOR via the serializable `opener`
   * passed in [[Config]] (same pattern as a JDBC URL: ship the
   * coordinates, open locally).
   */
  trait DocumentStore {
    /** Replace the document with this id, inserting if absent. */
    def replaceOne(id: String, docJson: String): Unit
    def close(): Unit
  }

  /**
   * @param opener    executor-side store factory (connection coords
   *                  captured in the closure, not a live connection)
   * @param idField   JSON field holding the document id
   *                  (ProvidedInValueStrategy reads `_id`)
   */
  final case class Config(
      opener: () => DocumentStore,
      idField: String = "_id")

  /** What a batch skipped: tombstones (dropped by design) and
    * documents lacking the id field (the id strategy's error path).
    * `replaced` is accumulator-backed — Spark re-adds accumulators for
    * re-executed tasks, so under task retries it is an upper bound;
    * the STORE state stays exact (ReplaceOne replay is idempotent). */
  final case class MongoStats(replaced: Long, tombstonesDropped: Long,
      missingId: Long)

  /**
   * Apply one micro-batch of (valueCol JSON, offsetCol long) rows.
   * Call from `foreachBatch` (streaming) or directly (backfill).
   */
  def applyBatch(batch: DataFrame, valueCol: String, offsetCol: String,
      cfg: Config): MongoStats = {
    val total = batch.persist()
    try {
      // A null value json-extracts to a null __id, so one aggregate
      // pass yields all three stat counts (count(col) skips nulls).
      val withId = total.withColumn("__id",
        get_json_object(col(valueCol), s"$$.${cfg.idField}"))
      val routable = withId.filter(
        col(valueCol).isNotNull && col("__id").isNotNull)
      val lww = CdcOps.lastWriteWins(
        routable.withColumn("__t", lit("t")), "__t", Seq("__id"), offsetCol)
      val opener = cfg.opener
      val replaced = total.sparkSession.sparkContext.longAccumulator("replaced")
      lww.select(col("__id"), col(valueCol).as("__doc"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          if (it.hasNext) {
            val store = opener()
            try it.foreach { r =>
              store.replaceOne(r.getString(0), r.getString(1))
              replaced.add(1)
            } finally store.close()
          }
        }
      val counts = withId.select(
        count(lit(1)).as("n"), count(col(valueCol)).as("live"),
        count(col("__id")).as("routable")).head()
      MongoStats(replaced.value,
        counts.getLong(0) - counts.getLong(1),
        counts.getLong(1) - counts.getLong(2))
    } finally total.unpersist()
  }
}
