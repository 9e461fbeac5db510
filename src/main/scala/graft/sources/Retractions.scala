package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * ROOT-LEVEL retraction (tombstone) mechanics — ONE implementation of
 * the row-level-delete discipline every standing structure here
 * shares, whatever its table layout (the [[StandingStore]]'s flat
 * `table/__batch=<b>` tables, [[graft.ann.IvfIndex]]'s nested
 * `corpus/cell=<i>/__batch=<b>` cells):
 *
 *  - a delete at 100 TB must not rewrite a table, so [[land]] writes
 *    the ids as the root's `tombs/__batch=<batchId>/` partition —
 *    O(ids) bytes, batch-keyed dynamic overwrite (replay-idempotent
 *    like every fold);
 *  - readers [[apply]] the standing tombstones as an anti-join — a
 *    listing-guarded no-op in the steady state, and the tombstone
 *    side is compaction-bounded so Catalyst broadcasts it (no hint:
 *    a rare mass retraction past the threshold degrades to a shuffle
 *    join instead of an OOM);
 *  - the owner's compaction purges matching rows physically, then
 *    [[clearThrough]] drops the SETTLED tombstone partitions strictly
 *    after its swap commits (the `.old`-prune discipline — a crash
 *    before the clear leaves idempotent filters, never a
 *    resurrection).
 *
 * POLICY stays with the owning store — the lease, the causal
 * batch-id bound against ITS fold listing, which tables opt in, when
 * clearing is safe — this object owns only the shared mechanics, so
 * the discipline cannot drift between structures (the same
 * one-implementation rule as [[BatchPartitions]] and [[DirSwap]]).
 *
 * Matching is by ID ALONE, which is correct under the repo-wide
 * MONOTONE-ID contract every standing structure already requires
 * (batch doc ids exceed all earlier ids — see
 * [[graft.pipeline.CuratedCorpus]]'s class doc): an id is never
 * reused, so a row carrying a tombstoned id is by construction the
 * retracted document (or its replay), never a causally-later one — a
 * re-added document is a NEW document with a new id. Batch-aware
 * filtering (row batch ≤ tombstone batch) would be both unnecessary
 * under that contract and ill-defined across compaction, which
 * relabels surviving rows to the base batch.
 */
object Retractions {

  /** Retraction (tombstone) directory name under a structure's root. */
  val Dir = "tombs"

  private def dirOf(root: String) = s"$root/$Dir"

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Land one retraction batch — O(ids) bytes, batch-keyed dynamic
    * overwrite. PINS `ids` (localCheckpoint) before writing: the
    * frame is commonly derived from the owning structure's own
    * filtered read, which this write would filter (or, on a
    * redelivery, whose pinned file listing it would invalidate)
    * mid-verb. Callers hold their root's lease and have validated
    * their causal bound.
    *
    * Ids are stored as LONG (the repo-wide monotone-id clock), and
    * the cast is GUARDED: a null or non-numeric id would store a NULL
    * the anti-join can never match — the delete would silently no-op,
    * the one failure mode a retraction must not have — so such a row
    * fails the verb loudly instead (the guard rides the same
    * projection as the pin; no extra scan). `try_cast` keeps the
    * guard's behavior independent of the session's ANSI mode — under
    * `ansi=false` a plain cast would be the silent NULL this guard
    * exists to catch. Fractional ids (a JSON-parsed delete feed
    * arriving as DOUBLE) are held to LOSSLESSNESS too: `7.9`
    * truncating to `7` would delete the WRONG document, so the value
    * must round-trip the narrowing exactly. */
  def land(ids: DataFrame, idCol: String, batchId: Long,
      root: String): Unit = {
    val pinned = ids.select(losslessLongId(ids, idCol).as("id")).distinct()
      .localCheckpoint(true)
    try {
      pinned.withColumn("__batch", lit(batchId))
        .sortWithinPartitions("__batch", "id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch").parquet(dirOf(root))
    } finally {
      pinned.unpersist()
      ()
    }
  }

  /** The GUARDED id projection — the ONE narrowing every delete path
    * goes through ([[land]] itself, and the composed callers that
    * pre-pin their id set: `IngestStream.retractDocs`,
    * `CuratedCorpus.standingContentHashes` — a plain upstream
    * `cast("long")` would truncate BEFORE the guard could see it). A
    * null, non-numeric, or LOSSY value fails the verb loudly instead
    * of deleting the wrong document: fractional numerics must
    * round-trip the narrowing exactly (`7.9` truncating to `7` is a
    * wrong-target delete), and string ids must be integral by FORM
    * (`"7.9"` truncates under non-ANSI string→long, so the shape is
    * checked, not the cast — the guard stays ANSI-mode-independent).
    * Type resolution goes through `select` so the session's own
    * case-sensitivity rules apply (a bare schema lookup is
    * case-sensitive where column resolution is not). */
  def losslessLongId(ids: DataFrame, idCol: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    val src = col(idCol)
    val narrowed = src.try_cast("long")
    val idType = ids.select(src).schema.head.dataType
    val lossless = idType match {
      case DoubleType | FloatType | _: DecimalType =>
        narrowed.cast(idType) === src
      // the form the narrowing cast itself accepts losslessly —
      // optional sign (+ included: try_cast("+7") = 7), digits only
      case StringType => src.rlike("^\\s*[+-]?\\d+\\s*$")
      case _ => lit(true)
    }
    when(src.isNull.or(narrowed.isNull).or(!lossless),
      raise_error(concat(
        lit(s"retraction id ('$idCol') must cast losslessly to a " +
          "non-null LONG, got: "),
        coalesce(src.cast("string"), lit("NULL")))))
      .otherwise(narrowed)
  }

  /** Standing tombstone partitions (listing only; empty = none — the
    * steady state). */
  def batchIds(spark: SparkSession, root: String): Seq[Long] = {
    val p = new Path(dirOf(root))
    if (!fsOf(spark, root).exists(p)) Seq.empty
    else BatchPartitions.ids(spark, dirOf(root))
  }

  /** The standing retracted ids — `(id)`, distinct across tombstone
    * partitions. Empty-safe only when a partition stands; guard with
    * [[batchIds]]. */
  def open(spark: SparkSession, root: String): DataFrame =
    graft.Tables
      .readParquet(spark, dirOf(root), Some(StructType.fromDDL("id LONG, __batch LONG")))
      .select("id").distinct()

  /** Anti-join `df` against a tombstone id frame on `idCol`. */
  def antiJoin(df: DataFrame, idCol: String, tombs: DataFrame): DataFrame =
    df.join(tombs.select(col("id").as(idCol)), Seq(idCol), "left_anti")

  /** [[antiJoin]] against the root's standing tombstones — a no-op
    * (and plan-identical) when none stand. */
  def apply(spark: SparkSession, root: String, df: DataFrame,
      idCol: String): DataFrame =
    if (batchIds(spark, root).isEmpty) df
    else antiJoin(df, idCol, open(spark, root))

  /** Drop SETTLED tombstone partitions (id ≤ `throughBatch`) — called
    * strictly AFTER a purging compaction's swap commits. Retires the
    * dir itself when the last partition drains, so absent and drained
    * read identically. One listing (callers lease-serialize
    * [[land]]); pass `standing` when the caller already listed. */
  def clearThrough(spark: SparkSession, root: String, throughBatch: Long,
      standing: Option[Seq[Long]] = None): Unit = {
    val fs = fsOf(spark, root)
    val ids = standing.getOrElse(batchIds(spark, root))
    ids.filter(_ <= throughBatch).foreach(b =>
      fs.delete(new Path(s"${dirOf(root)}/__batch=$b"), true))
    if (ids.nonEmpty && ids.forall(_ <= throughBatch))
      fs.delete(new Path(dirOf(root)), true)
    ()
  }
}
