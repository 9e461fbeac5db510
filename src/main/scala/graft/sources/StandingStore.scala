package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Spec of one sub-table under a standing-structure root.
 *
 * @param name            directory name under the root
 * @param schema          DDL for the at-rest rows INCLUDING the
 *                        `__batch LONG` partition column (explicit
 *                        schema keeps zero-row partitioned dirs
 *                        readable — no footers to infer from)
 * @param sortCols        in-file sort columns — the layout half of the
 *                        point-read contract ([[PointReads]]): footer
 *                        stats prune probes by `sortCols.head`
 * @param pageRowLimit    `parquet.page.row.count.limit` for NARROW
 *                        point-probed tables ([[PointReads.PageRowLimit]])
 * @param targetFileBytes compaction file-sizing target
 * @param sizeFrom        sibling table whose dir bytes drive this
 *                        table's file count — for a table DERIVED from
 *                        a sibling (band rows from signatures) whose
 *                        own pre-compaction listing over-counts
 * @param retractCol      document-identity column retraction applies
 *                        to: [[StandingStore.open]] anti-joins this
 *                        column against the root's standing tombstones
 *                        and compaction purges matching rows; `None`
 *                        opts the table out (content-identity tables —
 *                        a curated corpus's hash table — RETAIN their
 *                        rows deliberately, see
 *                        [[graft.pipeline.CuratedCorpus]]'s
 *                        suppression contract)
 */
final case class TableSpec(
    name: String,
    schema: String,
    sortCols: Seq[String],
    pageRowLimit: Option[Int] = None,
    targetFileBytes: Long = 128L << 20,
    sizeFrom: Option[String] = None,
    retractCol: Option[String] = None)

/**
 * The SHARED single-root standing-table lifecycle — one implementation
 * of the discipline every at-rest structure here follows
 * ([[graft.pipeline.DocStore]], [[graft.dedup.SignatureIndex]],
 * [[graft.dedup.ClusterIndex]], [[graft.pipeline.CuratedCorpus]]),
 * instead of a per-structure copy kept in lockstep by convention:
 *
 *   - layout: `root/<table>/__batch=<b>/` per [[TableSpec]];
 *     `__batch = `[[StandingStore.BaseBatch]] is the base snapshot,
 *     each fold appends its own partition;
 *   - folds are REPLAY-IDEMPOTENT: batch-keyed dynamic partition
 *     overwrite, so an at-least-once redelivery re-lands exactly its
 *     own partitions;
 *   - compaction relabels SETTLED folds (id ≤ `throughBatch`) into the
 *     base and stages-then-swaps via [[DirSwap]] under the root's
 *     [[Lease]]; batch-id listing verbs ([[foldCount]],
 *     [[maintainThrough]]'s due check) are O(listing) at any size;
 *   - EVERY write sorts by `__batch +: sortCols`: the partitioned
 *     writer's required ordering is the partition columns, and a write
 *     sorted by the data columns alone would have the writer inject
 *     its own UNSTABLE `__batch` sort — silently destroying the
 *     in-file key order the point-read contract depends on wherever a
 *     partition holds mixed batch values (a bounded-compaction
 *     staging always does). The prefix satisfies the requirement, so
 *     no sort is injected and files stay `sortCols`-ordered;
 *   - RETRACTION (row-level delete) never rewrites data: [[retract]]
 *     lands the ids as a tombstone partition (`tombs/__batch=<b>/`,
 *     O(ids) bytes — at 100 TB a delete must not cost a table
 *     rewrite), [[open]] anti-joins standing tombstones out of every
 *     [[TableSpec.retractCol]] table (the tombstone side is
 *     compaction-bounded and broadcasts), and [[compactThrough]]
 *     PURGES matching rows physically, then clears the settled
 *     tombstone partitions strictly after the swap commits — the
 *     `.old`-prune discipline, so a crash between swap and clear just
 *     leaves idempotent filters standing. Tombstone batch ids live on
 *     the SAME monotone clock as fold ids, and a retraction's targets
 *     must already stand (tomb batch id ≥ the targets' fold batch
 *     ids — the causal order a delete request implies): that is what
 *     makes clearing a SETTLED tombstone safe, because its targets
 *     were settled with it and a settled fold is never replayed.
 *
 * Custom stores compose these verbs: a pure row store
 * ([[graft.pipeline.DocStore]]) is a thin column-renaming wrapper; a
 * store with derived tables or custom compaction semantics
 * ([[graft.dedup.SignatureIndex]]'s sig→band derivation,
 * [[graft.dedup.ClusterIndex]]'s settled-chain baking) keeps its own
 * fold/compact bodies but builds them from [[landBase]] /
 * [[landFold]] / [[landStaging]] / [[fileCount]] so the write
 * discipline cannot drift.
 */
final class StandingStore(val root: String, val tables: Seq[TableSpec]) {
  import StandingStore.BaseBatch

  require(tables.nonEmpty, "a standing store needs at least one table")
  tables.foreach(t => require(t.schema.contains("__batch"),
    s"table ${t.name}'s schema must carry the __batch partition column"))
  require(!tables.exists(_.name == StandingStore.TombsDir),
    s"'${StandingStore.TombsDir}' is the retraction dir, not a table name")

  private val byName = tables.map(t => t.name -> t).toMap
  private def spec(name: String): TableSpec =
    byName.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown table '$name' (have ${tables.map(_.name).mkString(", ")})"))

  /** Live directory of `table`. */
  def dir(table: String): String = s"$root/${spec(table).name}"

  private def fsOf(spark: SparkSession) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run `body` holding the root's single-writer lease (re-entrant
    * under a composed caller — [[Lease.withLease]]). */
  def withLease[A](spark: SparkSession)(body: => A): A =
    Lease.withLease(spark, root)(body)

  /** Clear every live dir plus any compaction staging/retired dirs —
    * the build-verb preamble. Never drops the root itself: the held
    * lease lives there, and a rewrite that deleted it would release
    * its own exclusion. Clearing staging FIRST matters: a compact
    * that crashed pre-swap left `.compact` + `_SWAP` behind, and a
    * later fold's recover would otherwise roll the pre-crash tables
    * forward OVER the fresh rewrite. */
  def clearForRewrite(spark: SparkSession): Unit = {
    val fs = fsOf(spark)
    (Seq(s"$root/.compact", tombsDir,
      s"$root/${StandingStore.WatermarkFile}",
      // the persist staging name too: a tmp stranded by a crash
      // mid-persist must not outlive a full rewrite of the root —
      // the marker-absent fallback below would read it as the
      // PRE-rewrite clock
      s"$root/.${StandingStore.WatermarkFile}.tmp") ++
      tables.flatMap(t => Seq(s"$root/${t.name}", s"$root/.old_${t.name}")))
      .foreach(d => fs.delete(new Path(d), true))
  }

  /** Finish a crashed compaction swap — the reader-first preamble
    * every consumer that READS before its own fold's recovery would
    * run must call ([[DirSwap.recover]]). No-op on a healthy root. */
  def recoverSwap(spark: SparkSession): Unit =
    DirSwap.recover(spark, root, tables.map(_.name))

  /** [[recoverSwap]] for a FOLD preamble — refuses to proceed (throws)
    * when a committed swap is pending under a live foreign lease,
    * because rows landed meanwhile would be discarded by the
    * roll-forward ([[DirSwap.recoverOrRefuseWrites]]). */
  def recoverSwapForWrite(spark: SparkSession): Unit =
    DirSwap.recoverOrRefuseWrites(spark, root, tables.map(_.name))

  private def sorted(df: DataFrame, t: TableSpec): DataFrame =
    df.sortWithinPartitions(("__batch" +: t.sortCols).map(col): _*)

  private def paged(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      t: TableSpec) =
    t.pageRowLimit.fold(w)(n =>
      w.option("parquet.page.row.count.limit", n.toString))

  /** Land `df` as the base snapshot of `table` (static overwrite).
    * `rangeFiles` range-partitions by `sortCols.head` first — the
    * globally-sorted layout a point-probed table wants from birth. */
  def landBase(df: DataFrame, table: String,
      rangeFiles: Option[Int] = None): Unit = {
    val t = spec(table)
    val base = df.withColumn("__batch", lit(BaseBatch))
    val shaped = rangeFiles.fold(base)(n =>
      base.repartitionByRange(n, col(t.sortCols.head)))
    paged(sorted(shaped, t).write.mode("overwrite"), t)
      .partitionBy("__batch").parquet(dir(table))
  }

  /** Land one batch of `table` as its own partition — batch-sized
    * bytes, replay-idempotent (dynamic overwrite keyed by `batchId`).
    *
    * A ZERO-ROW fold that ADVANCES the clock still lands: the dynamic
    * overwrite writes no partition for an empty frame, so a NEW
    * batch's directory is created explicitly (listings + `mkdirs`,
    * no Spark action) — the fold clock must advance whether or not
    * the batch carried rows for this table (an embed lane folding a
    * batch of null vectors, a batch whose survivors all dedup away).
    * Without it the root's watermark stalls behind its siblings', and
    * a consumer pinning the min watermark ([[graft.pipeline
    * .IngestStream.lockstepView]]) is stuck — or, once a sibling
    * compacts past the stall, refused — in a perfectly healthy loop.
    * Forward-only: a REPLAYED old batch folding empty (its rows
    * already collapsed into the base) recreates nothing, so the
    * replay-after-compaction contract ("the empty overwrite touches
    * nothing") holds exactly as before. The forward test is
    * PER-TABLE (this table's own listing ∨ the persisted marker, the
    * two places a collapsed batch's id survives) — the root-wide
    * watermark would let the FIRST table's empty dir hide its
    * siblings', leaving the batch looking like a torn fold. Empty
    * partition dirs read fine here: every open supplies the spec's
    * explicit schema, and a replay that DOES carry rows overwrites
    * into the same partition. */
  def landFold(df: DataFrame, table: String, batchId: Long): Unit = {
    val t = spec(table)
    require(batchId != BaseBatch && batchId >= 0,
      s"fold batch ids must be ≥ 0 (got $batchId; $BaseBatch is the base)")
    paged(sorted(df.withColumn("__batch", lit(batchId)), t)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic"), t)
      .partitionBy("__batch").parquet(dir(table))
    val part = new Path(s"${dir(table)}/__batch=$batchId")
    val fs = fsOf(df.sparkSession)
    if (!fs.exists(part)) {
      val spark = df.sparkSession
      val seen = math.max(
        BatchPartitions.ids(spark, dir(table)).foldLeft(BaseBatch)(math.max),
        StandingStore.readWatermarkMarker(spark, root)._1)
      if (batchId > seen) { fs.mkdirs(part); () }
    }
  }

  /** Write `df` (already carrying final `__batch` values) as `table`'s
    * compaction staging, range-partitioned into `files` by
    * `sortCols.head` — [[DirSwap.swapStaged]] then swaps it live. */
  def landStaging(df: DataFrame, table: String, files: Int): Unit = {
    val t = spec(table)
    val shaped =
      if (t.sortCols.nonEmpty) df.repartitionByRange(files, col(t.sortCols.head))
      else df.repartition(files)
    paged(sorted(shaped, t).write.mode("overwrite"), t)
      .partitionBy("__batch").parquet(DirSwap.stagingDir(root, table))
  }

  /** Raw schema'd read of `table` including `__batch`. */
  def openRaw(spark: SparkSession, table: String): DataFrame =
    graft.Tables
      .readParquet(spark, dir(table), Some(StructType.fromDDL(spec(table).schema)))

  /** The composed rows of `table` across the base and every fold,
    * with standing retractions applied when the table opted in
    * ([[TableSpec.retractCol]]). With no tombstones standing — the
    * post-compaction steady state — the plan is byte-identical to the
    * raw read: the guard is a directory listing, so retraction costs
    * nothing until a retraction exists. */
  def open(spark: SparkSession, table: String): DataFrame = {
    val composed = openRaw(spark, table).drop("__batch")
    spec(table).retractCol match {
      case Some(c) => applyRetractions(spark, composed, c)
      case None => composed
    }
  }

  /** [[open]] AS OF fold batch `throughBatch`: the base plus only the
    * folds with id ≤ `throughBatch` — the snapshot face a
    * cross-structure consistent read pins several roots of one loop
    * to ([[graft.pipeline.IngestStream.lockstepView]]). The bound is
    * a PARTITION filter on `__batch`, so the excluded folds' files
    * are never read (plan-pinned in PlanQualitySpec).
    *
    * `throughBatch` must be ≥ [[compactedThrough]]: a batch collapsed
    * into the base cannot be re-excluded, so a bound below the
    * collapse floor would silently INCLUDE rows it claims to cut —
    * refused instead. The lockstep router satisfies the floor by
    * construction (it only collapses batches already folded into
    * every sibling root, so the roots' min watermark is never below
    * any root's floor).
    *
    * Standing retractions apply IN FULL, even tombstones dated after
    * `throughBatch`: a snapshot read must never resurrect a deleted
    * row, so the safe direction is to over-filter (GDPR semantics
    * dominate as-of semantics). */
  def openAt(spark: SparkSession, table: String,
      throughBatch: Long): DataFrame = {
    val floor = compactedThrough(spark)
    require(throughBatch >= floor,
      s"openAt($throughBatch) is below $root's collapse floor ($floor) — " +
        "those folds are already in the base and cannot be re-excluded")
    val composed = openRaw(spark, table)
      .where(col("__batch") <= throughBatch).drop("__batch")
    spec(table).retractCol match {
      case Some(c) => applyRetractions(spark, composed, c)
      case None => composed
    }
  }

  // ------------------------------------------------------ fold watermark

  /** Highest batch id ever folded into the store ([[BaseBatch]] if
    * only the base stands): the max of the live fold listings across
    * every table and the marker [[persistFoldWatermark]] writes before
    * a compaction collapses the partitions that would otherwise carry
    * it — so the watermark is MONOTONE across compactions. A directory
    * listing plus one tiny file read, never a data scan. */
  def batchWatermark(spark: SparkSession): Long = {
    val fs = fsOf(spark)
    val fromDirs = tables.iterator
      .map(t => dir(t.name))
      .filter(d => fs.exists(new Path(d)))
      .flatMap(d => BatchPartitions.ids(spark, d))
      .foldLeft(BaseBatch)(math.max)
    math.max(fromDirs, readWatermarkMarker(spark)._1)
  }

  /** Highest batch id ever COLLAPSED into the base — [[openAt]]'s
    * floor ([[BaseBatch]] if never compacted, or on a root compacted
    * only before this marker existed — such a root reads every
    * `openAt` bound as above-floor, the one caveat of retrofitting). */
  def compactedThrough(spark: SparkSession): Long =
    readWatermarkMarker(spark)._2

  /** Persist the fold watermark and the collapse floor — every
    * compaction body calls this BEFORE staging ([[compactThrough]]
    * does; custom bodies — [[graft.dedup.ClusterIndex]]'s, the
    * curated corpus's — call it themselves), so both survive the
    * collapse of the partitions that carried them. Idempotent
    * overwrite; a crash between this write and the swap merely
    * re-records the same watermark (and a conservatively-high floor,
    * which only ever REFUSES an `openAt`, never mis-serves one).
    * Written to a temp name and RENAMED into place: the marker is
    * read leaselessly ([[lockstepView]]'s clock, fsck, the release
    * cadence), and after a full collapse it alone carries the clock —
    * a reader racing an in-place truncate-then-write could see an
    * empty file and read `(BaseBatch, BaseBatch)`, transiently
    * tripping `lockstepView`'s floor guard and skipping a release
    * tick. A same-filesystem rename is atomic on HDFS and POSIX, so
    * readers always see either the old complete marker or the new
    * one. */
  def persistFoldWatermark(spark: SparkSession,
      collapseThrough: Long): Unit = {
    val wm = batchWatermark(spark)
    val floor = math.max(math.min(collapseThrough, wm),
      readWatermarkMarker(spark)._2)
    val fs = fsOf(spark)
    val p = new Path(s"$root/${StandingStore.WatermarkFile}")
    val tmp = new Path(s"$root/.${StandingStore.WatermarkFile}.tmp")
    val out = fs.create(tmp, true)
    try out.write(
      (s"""{"batch_watermark":$wm,""" +
        s""""compacted_through":$floor}""").getBytes("UTF-8"))
    finally out.close()
    // rename first (POSIX rename(2) replaces the destination
    // atomically — zero-gap on local fs); only a filesystem that
    // refuses rename-over-existing (HDFS) takes the delete-then-retry
    // arm. A crash INSIDE that gap (after delete, before rename)
    // leaves the marker durably absent — but the tmp then holds the
    // COMPLETE new content, and [[readWatermarkMarker]] falls back to
    // it, so the clock is never lost, transiently or durably.
    if (!fs.rename(tmp, p)) {
      if (fs.exists(p)) fs.delete(p, false)
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(
          s"watermark marker rename failed: $tmp -> $p")
    }
  }

  private def readWatermarkMarker(spark: SparkSession): (Long, Long) =
    StandingStore.readWatermarkMarker(spark, root)

  // ---------------------------------------------------------- retraction

  private def tombsDir: String = s"$root/${StandingStore.TombsDir}"

  /**
   * Land one retraction batch — the ids to delete, as the root's
   * `tombs/__batch=<batchId>/` partition. O(ids) bytes: the data
   * tables are NOT touched (readers filter via [[open]]; the next
   * compaction purges physically). Replay-idempotent like every fold
   * here (batch-keyed dynamic partition overwrite). The causal
   * contract — the ids must already stand, so `batchId` ≥ their fold
   * batch ids on the same monotone clock (in-loop: the stream's own
   * batch id; ad-hoc: the latest committed one) — is ENFORCED against
   * the standing fold listing: a tombstone dated before a standing
   * fold would count as settled while its targets' fold is still
   * replayable, and [[compactThrough]]'s purge-then-clear would turn
   * the next redelivery into a permanent, fsck-invisible
   * resurrection. Ids are read through `idCol` and stored as LONG.
   *
   * Runs under the root's lease: [[compactThrough]] clears settled
   * tombstones strictly after staging PURGED copies, and a tombstone
   * landing between its staging read and its clear would be cleared
   * without its rows ever purged — the delete would silently vanish.
   * The lease serializes the two verbs (per-thread re-entrant, so an
   * in-loop retract inside a maintenance-holding callback still
   * proceeds); a refusal surfaces loudly — a delete request must
   * never be silently skipped.
   */
  def retract(ids: DataFrame, idCol: String, batchId: Long): Unit = {
    require(tables.exists(_.retractCol.nonEmpty),
      s"no table of $root opted into retraction (TableSpec.retractCol)")
    require(batchId != BaseBatch && batchId >= 0,
      s"retraction batch ids must be ≥ 0 (got $batchId)")
    val spark = ids.sparkSession
    // recover + the causal listing run INSIDE the lease: an unleased
    // listing racing a lease-holding compaction mid-swap could read a
    // half-swapped layout
    withLease(spark) {
      recoverSwap(spark)
      val late = tables.filter(_.retractCol.nonEmpty)
        .filter(t => fsOf(spark).exists(new Path(dir(t.name))))
        .flatMap(t => BatchPartitions.ids(spark, dir(t.name)))
        .filter(b => b != BaseBatch && b > batchId)
      require(late.isEmpty,
        s"retraction batch $batchId predates standing folds " +
          s"${late.distinct.sorted.mkString("[", ",", "]")} of $root — " +
          "date deletes on the fold clock's current watermark")
      Retractions.land(ids, idCol, batchId, root)
    }
  }

  /** Standing tombstone partitions (listing only; empty = no
    * retraction standing — the steady state). */
  def retractionBatchIds(spark: SparkSession): Seq[Long] =
    Retractions.batchIds(spark, root)

  /** The standing retracted ids — `(id)`, distinct across tombstone
    * partitions. Empty-safe only when a partition stands; guard with
    * [[retractionBatchIds]]. */
  def openRetractions(spark: SparkSession): DataFrame =
    Retractions.open(spark, root)

  /** Anti-join `df` against the standing tombstones on `idCol` — a
    * no-op (and plan-identical) when none stand. The tombstone side is
    * bounded by the compaction cadence (settled tombstones clear at
    * every compaction), so Catalyst's size estimate broadcasts it;
    * no hint, so a rare mass retraction larger than the broadcast
    * threshold degrades to a shuffle join instead of an OOM. */
  def applyRetractions(spark: SparkSession, df: DataFrame,
      idCol: String): DataFrame =
    Retractions(spark, root, df, idCol)

  /** Drop SETTLED tombstone partitions (id ≤ `throughBatch`) — called
    * strictly AFTER a purging compaction's swap commits (the
    * `.old`-prune discipline: a crash before the clear leaves
    * idempotent filters standing, never a resurrection). Retires the
    * dir itself when the last partition drains, so absent and drained
    * read identically. */
  def clearRetractionsThrough(spark: SparkSession,
      throughBatch: Long): Unit =
    Retractions.clearThrough(spark, root, throughBatch)

  /** Compaction file count for `table`: the sizing dir's bytes (an FS
    * summary, not a scan) over the spec's target (or the caller's
    * override — the public sizing dial). */
  def fileCount(spark: SparkSession, table: String,
      targetBytesOverride: Option[Long] = None): Int =
    fileCountVia(spark, targetBytesOverride
      .fold(spec(table))(n => spec(table).copy(targetFileBytes = n)))

  /** Fold partitions currently standing (listing only; counted on the
    * first table — folds land in lockstep across a root's tables). */
  def foldCount(spark: SparkSession): Int =
    BatchPartitions.ids(spark, dir(tables.head.name)).count(_ != BaseBatch)

  /** SETTLED fold partitions (id ≤ `throughBatch`) standing. */
  def settledFoldCount(spark: SparkSession, throughBatch: Long): Int =
    BatchPartitions.ids(spark, dir(tables.head.name))
      .count(b => b != BaseBatch && b <= throughBatch)

  /**
   * The DEFAULT compaction — correct for any store whose folds are
   * plain rows (no cross-fold metadata to bake): relabel every settled
   * fold's rows into the base, restore file counts and the global
   * `sortCols.head` clustering, stage fully, swap under the lease.
   * Unsettled folds' partitions survive verbatim, so a replay of a
   * left-alone batch still overwrites its own partitions. Stores with
   * derived compaction semantics write their own body from
   * [[landStaging]] + [[fileCount]].
   *
   * Standing retractions PURGE here: every [[TableSpec.retractCol]]
   * table stages with tombstoned rows anti-joined out (all standing
   * tombstones — purging with an unsettled one is safe because its
   * partition survives the clear and readers keep filtering until the
   * next compaction), and the settled tombstone partitions clear
   * strictly after the swap commits.
   *
   * @param sizeOverrides per-table `targetFileBytes` overrides (the
   *                      caller-facing sizing dial)
   */
  def compactThrough(spark: SparkSession, throughBatch: Long,
      sizeOverrides: Map[String, Long] = Map.empty): Unit =
    withLease(spark) {
      val tombBatches = stageCompactThrough(spark, throughBatch,
        sizeOverrides)
      DirSwap.swapStaged(spark, root, tables.map(_.name))
      Retractions.clearThrough(spark, root, throughBatch,
        standing = Some(tombBatches))
    }

  /** The recover → watermark-persist → stage prefix of
    * [[compactThrough]], stopping BEFORE the swap — the
    * crash-injection seam the standing tables' mixed-prefix specs
    * drive with [[DirSwap.commitSwaps]] (each caller's compact
    * scaladoc argues its own prefix states per [[DirSwap]]'s
    * table-order contract; the specs make the argument driven).
    * Returns the retraction-batch snapshot the commit's clear
    * consumes. Production code calls [[compactThrough]]; callers here
    * must hold the lease. */
  private[graft] def stageCompactThrough(spark: SparkSession,
      throughBatch: Long,
      sizeOverrides: Map[String, Long] = Map.empty): Seq[Long] = {
    // the lease is the class doc's MECHANICAL guard, so the
    // precondition is enforced, not just documented: a lease-less
    // caller under a live foreign owner would have recoverSwap defer,
    // stage a possibly mid-swap root, and let a later swap destroy
    // the owner's writes
    require(Lease.heldByThisThread(root),
      s"stageCompactThrough requires the $root lease (call under withLease)")
    recoverSwap(spark)
    // persist the fold clock BEFORE the partitions carrying it
    // collapse (and the openAt floor with it)
    persistFoldWatermark(spark, throughBatch)
    val settled = col("__batch") <= throughBatch // BaseBatch ≤ any
    // size every table BEFORE staging: a sizeFrom sibling's live dir
    // must still be the pre-compaction one
    val files = tables.map { t =>
      val overridden = sizeOverrides.get(t.name)
        .fold(t)(n => t.copy(targetFileBytes = n))
      t.name -> fileCountVia(spark, overridden)
    }.toMap
    // ONE tombstone listing + ONE materialized id frame for every
    // table's purge and for the commit's clear (listings dominate
    // maintenance cost on object stores, and [[retract]]'s lease
    // makes this snapshot authoritative for the whole compaction)
    val tombBatches = retractionBatchIds(spark)
    val tombs =
      if (tombBatches.isEmpty) None
      else Some(openRetractions(spark).localCheckpoint(true))
    try {
      tables.foreach { t =>
        val purged = (t.retractCol, tombs) match {
          case (Some(c), Some(tf)) =>
            Retractions.antiJoin(openRaw(spark, t.name), c, tf)
          case _ => openRaw(spark, t.name)
        }
        landStaging(
          purged.withColumn("__batch",
            when(settled, lit(BaseBatch)).otherwise(col("__batch"))),
          t.name, files(t.name))
      }
    } finally {
      tombs.foreach(_.unpersist())
      ()
    }
    tombBatches
  }

  private def fileCountVia(spark: SparkSession, t: TableSpec): Int = {
    val d = new Path(s"$root/${t.sizeFrom.getOrElse(t.name)}")
    val bytes = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(d).getLength
    math.max(1L, (bytes + t.targetFileBytes - 1) / t.targetFileBytes).toInt
  }

  /** In-loop cadence: run `compact` (defaulting to
    * [[compactThrough]]) once `maxFolds` SETTLED folds stand. From
    * `foreachBatch(N)` call with `throughBatch = N - 1`. Returns true
    * iff it compacted. */
  def maintainThrough(spark: SparkSession, maxFolds: Int,
      throughBatch: Long)(
      compact: Long => Unit = compactThrough(spark, _)): Boolean = {
    require(maxFolds >= 1, s"maxFolds must be >= 1, got $maxFolds")
    val due = settledFoldCount(spark, throughBatch) >= maxFolds
    if (due) compact(throughBatch)
    due
  }

  /** Retire the root. */
  def delete(spark: SparkSession): Unit = {
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }
}

object StandingStore {
  /** Base-snapshot marker in the `__batch` partition column. */
  val BaseBatch = -1L

  /** Retraction (tombstone) directory name under a store's root. */
  val TombsDir: String = Retractions.Dir

  /** Fold-watermark marker file name under a store's root (the name
    * the curated corpus has persisted since its watermark predates
    * the shared store — existing roots keep reading). */
  val WatermarkFile = "watermark.json"

  /** (watermark, collapse floor) from any store root's marker —
    * (BaseBatch, BaseBatch) when absent; a legacy marker without the
    * floor key reads the floor AS the watermark (conservative:
    * refuses bounds the marker cannot vouch for). Shared at the
    * object so report-only tooling ([[graft.pipeline.Fsck]]) reads
    * the clock without constructing the store.
    *
    * When the live marker is ABSENT but the persist staging name
    * (`.<marker>.tmp`) holds a COMPLETE record (both keys parse AND
    * the closing brace — the final byte written — is present), the
    * tmp is read instead: on a filesystem that refuses
    * rename-over-existing (HDFS), [[StandingStore.persistFoldWatermark]]'s
    * fallback arm is delete(live) then rename(tmp, live), and a crash
    * between the two would otherwise collapse the clock durably to
    * `(BaseBatch, BaseBatch)` — a floor of [[BaseBatch]] is the
    * guard-WEAKENING direction (an `openAt` of an already-collapsed
    * batch would no longer be refused). At that crash point the tmp
    * is always complete (it was just the rename source); a tmp
    * stranded by a crash mid-WRITE never shadows anything because the
    * live marker still exists on that path — and a partial tmp on a
    * first-ever persist fails the completeness check (a truncation
    * can land INSIDE a multi-digit value and still satisfy a
    * keys-only parse — with a too-low floor; the brace requirement
    * closes that) and falls through to the default. */
  def readWatermarkMarker(spark: SparkSession, root: String): (Long, Long) = {
    val live = new Path(s"$root/$WatermarkFile")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // complete=true (the tmp fallback) trusts only a COMPLETE record:
    // both keys AND the closing brace — the crash-in-gap source always
    // is complete (it was just a rename source); a tmp torn mid-WRITE
    // can truncate INSIDE a multi-digit value ("…through\":12}" cut to
    // "…through\":1") and still satisfy a keys-only regex parse with a
    // too-LOW floor, the guard-weakening direction. The brace is
    // written last and nowhere else, so no strict prefix carries it.
    def parse(p: Path, complete: Boolean): Option[(Long, Long)] = {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        def num(k: String) = ("\"" + k + "\":(-?\\d+)").r
          .findFirstMatchIn(s).map(_.group(1).toLong)
        (num("batch_watermark"), num("compacted_through")) match {
          case (Some(wm), Some(fl)) if !complete || s.trim.endsWith("}") =>
            Some((wm, fl))
          case (Some(wm), None) if !complete => Some((wm, wm))
          case _                             => None
        }
      }
    }
    parse(live, complete = false)
      .orElse(parse(new Path(s"$root/.$WatermarkFile.tmp"), complete = true))
      .getOrElse((BaseBatch, BaseBatch))
  }
}
