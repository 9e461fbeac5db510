package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.dedup.Dedup

/**
 * STANDING curated-corpus table — the at-rest form of
 * [[PipelineQueries.curatedTrainDocs]], maintained incrementally so a
 * new [[Release]] version never re-curates the whole corpus. Init
 * curates the corpus snapshot once (the rare whole-corpus pass); each
 * arriving batch then folds in at batch-sized cost: quality rules and
 * the train split are per-document, and cross-corpus exact dedup
 * becomes a probe of the standing HASH table — a narrow
 * (hash-only) anti-join that never reads standing text.
 *
 * Layout under `path` (ClusterIndex partition discipline):
 * {{{
 *   path/docs/__batch=<b>/    (doc_id, source, n_tokens, text), doc_id-sorted
 *   path/hashes/__batch=<b>/  (h) — content hashes of the batch's stage-2
 *                             KEEPERS, pre-train-split: an eval-split
 *                             keeper never lands in docs but still
 *                             asserts content identity (a later copy
 *                             is a duplicate the union pipeline drops)
 * }}}
 * `__batch = -1` is the init snapshot; each fold appends only its own
 * partitions. Folds are REPLAY-IDEMPOTENT: writes are dynamic
 * partition overwrites keyed by `batchId`, and the dedup probe
 * excludes the batch's own hash partition, so a redelivered batch
 * re-derives the same rows instead of deduping against its prior
 * self to nothing.
 *
 * Equivalence contract (pinned in ReleaseSpec): init(corpus) then
 * foldBatch(b1)…foldBatch(bN) holds EXACTLY
 * `curatedTrainDocs(corpus ∪ b1 ∪ … ∪ bN)` with token counts —
 * provided batch doc ids exceed all earlier ids (the CDC/ClusterIndex
 * monotone-id contract): the exact-dedup keeper is min-id-per-hash,
 * so first-seen ≡ min-id exactly when ids grow monotonically. Docs
 * sort by doc_id inside files so the budget-kept text join prunes
 * row groups by footer stats.
 *
 * [[Release.buildFromCorpus]] closes the loop: versioned releases cut
 * from this table pay the budget fill over PRE-COUNTED tokens (no
 * tokenization, no text until the final budget-bounded layout join).
 */
object CuratedCorpus {

  /** Init-snapshot marker in the `__batch` partition column. */
  val BaseBatch: Long = graft.sources.StandingStore.BaseBatch

  private val DocsSchema =
    "doc_id LONG, source STRING, n_tokens LONG, text STRING, __batch LONG"

  // Shared lifecycle mechanics through the store. The spec order IS
  // the swap order (hashes strictly before docs — the [[SwapTables]]
  // scaladoc argues why; both compact's swap and the store's crash
  // recovery derive from THIS list, so they cannot diverge). The
  // CUSTOM parts stay here: the curation fold, the hashes-landed
  // compaction guard, and the persisted fold watermark.
  private val Tables = Seq(
    graft.sources.TableSpec("hashes", "h STRING, __batch LONG", Nil),
    graft.sources.TableSpec("docs", DocsSchema, Seq("doc_id"),
      retractCol = Some("doc_id")))

  private def store(path: String) =
    new graft.sources.StandingStore(path, Tables)

  /** Curate the corpus snapshot and write the base partitions. Starts
    * from a CLEAN slate: a re-init over a prior table at the same
    * path must not inherit its fold partitions or its persisted
    * watermark marker. The hash partition covers every stage-2 KEEPER
    * (pre-split): a later copy of an eval-split keeper is still a
    * duplicate the union pipeline would drop, so the content identity
    * must not forget the keepers the split withheld from `docs`. The
    * keeper set is checkpointed once — init is the rare whole-corpus
    * pass, and the two writes below must not each re-run it. */
  def init(docs: DataFrame, path: String): Unit = {
    // the build verb is as destructive as a compact (delete + two
    // rewrites) — same per-root lease as every maintenance entry
    // point, so racing an init against a fold loop fails fast
    val s = store(path)
    s.withLease(docs.sparkSession) {
      // clean slate WITHOUT dropping the root (the held lease lives
      // there): table dirs, compaction state, and the persisted
      // watermark marker, all via the store
      s.clearForRewrite(docs.sparkSession)
      val kept = PipelineQueries.curatedKeptDocs(docs)
        .withColumn("h", Dedup.exactHash(col("text")))
        .localCheckpoint(true)
      s.landBase(withCounts(kept.where(trainSplit)), "docs")
      s.landBase(kept.select(col("h")).distinct(), "hashes")
    }
  }

  private def trainSplit: org.apache.spark.sql.Column =
    PipelineQueries.trainSplit

  /**
   * Fold one batch: curate it (quality rules + within-batch exact
   * keeper + train split — all batch-local), drop docs whose content
   * the standing table already holds (hash anti-join; the exchange
   * carries the batch's rows and the standing HASHES, never standing
   * text), and land the survivors as the batch's own partitions.
   * Batch ids must be ≥ 0, distinct, and doc ids must exceed all
   * earlier ones (see class doc).
   */
  def foldBatch(path: String, batchDocs: DataFrame, batchId: Long): Unit = {
    foldBatchReturning(path, batchDocs, batchId)
    ()
  }

  /** [[foldBatch]] that RETURNS the batch's landed TRAIN survivors —
    * (doc_id, source, n_tokens, text), exactly the rows the fold
    * wrote to `docs/__batch=batchId`. This is the seam the composed
    * accept router needs: the sibling standing indexes (signatures,
    * cluster assignments) must index exactly the CURATED documents,
    * and the survivor set is only known inside the fold (quality
    * rules + hash probe + train split). The frame is checkpointed, so
    * downstream folds read a pinned view, not a replan. On REPLAY the
    * same survivors re-derive (the fold's own contract), so
    * downstream folds keyed by the same batch id stay idempotent; a
    * replay of an ALREADY-COMPACTED batch returns empty, and empty
    * dynamic overwrites downstream touch nothing.
    *
    * `excludeHashes` (a frame of `h`) carves named content hashes out
    * of the suppression probe — the delete-tagged router's CDC-upsert
    * seam ([[standingContentHashes]]): a batch that deletes a doc and
    * re-adds byte-identical content must land the re-add, which the
    * doomed copy's retained hash would otherwise suppress. Replay
    * stays intact because the exclusion re-derives from the RAW
    * standing docs on redelivery (see [[standingContentHashes]]). */
  def foldBatchReturning(path: String, batchDocs: DataFrame,
      batchId: Long, excludeHashes: Option[DataFrame] = None): DataFrame = {
    require(batchId != BaseBatch && batchId >= 0,
      s"fold batch ids must be ≥ 0 (got $batchId; $BaseBatch is the base)")
    // heal a crashed compact swap BEFORE writing: a fold that runs
    // first (a restarted stream replaying into a half-swapped table)
    // would recreate the live dir with only its own rows, and the
    // next recovery would then prune the staged full copy — silent
    // loss of the standing table. The WRITE form: under a live
    // foreign owner's pending swap it refuses instead of landing
    // rows the roll-forward would discard
    val s = store(path)
    s.recoverSwapForWrite(batchDocs.sparkSession)
    val fresh = freshRows(path, batchDocs, batchId, excludeHashes)
      .localCheckpoint(true) // both writes below; lineage reads the target dir
    val train = withCounts(fresh.where(trainSplit))
    s.landFold(train, "docs", batchId)
    s.landFold(fresh.select(col("h")).distinct(), "hashes", batchId)
    train
  }

  /** The fold's survivor set BEFORE it lands: curate the batch, then
    * drop content the standing table already holds. The standing side
    * of the anti-join is the HASH table only — the exchange carries
    * the batch's rows and ~32-byte hashes, never standing text
    * (plan-pinned in PlanQualitySpec). */
  private[graft] def freshRows(path: String, batchDocs: DataFrame,
      batchId: Long, excludeHashes: Option[DataFrame] = None): DataFrame = {
    val spark = batchDocs.sparkSession
    val standing0 = graft.Tables
      .readParquet(spark, s"$path/hashes", Some(StructType.fromDDL("h STRING, __batch LONG")))
      .where(col("__batch") =!= batchId) // replay: never probe own landing
      .select("h")
    val standing = excludeHashes.fold(standing0)(ex =>
      standing0.join(ex.select(col("h")), Seq("h"), "left_anti"))
    // stage-2 KEEPERS, pre-split (see init: eval-split keepers still
    // assert content identity); the split applies to the docs landing
    PipelineQueries.curatedKeptDocs(batchDocs)
      .withColumn("h", Dedup.exactHash(col("text")))
      .join(standing, Seq("h"), "left_anti")
  }

  /** Content hashes of the STANDING docs named by `ids` — the
    * [[foldBatchReturning]] exclusion frame for the CDC-UPSERT shape
    * (one batch deletes a doc and re-adds byte-identical content
    * under a new id): without it the adds fold first, the retained
    * hash of the doomed copy suppresses the re-add, and the delete
    * then retracts the only standing copy — the document is
    * permanently lost. Read RAW (tombstone-filter-free) on purpose:
    * on a redelivery the delete's tombstone already stands, and a
    * filtered read would derive an EMPTY exclusion — suppressing the
    * re-add on the replay only, a loss only the second delivery
    * suffers. The raw rows stand until a compaction purges them, by
    * which point the batch is settled and its replays fold to empty
    * overwrites (the landed re-add lives in the base). Bounded cost:
    * `ids` is batch-sized and broadcasts into the semi-join, and the
    * text read prunes row groups by doc_id footer stats (the docs
    * layout is doc_id-sorted). */
  def standingContentHashes(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String): DataFrame =
    store(path).openRaw(spark, "docs")
      // the guarded narrowing: a truncated fractional id would key
      // the carve-out on the WRONG document's content
      .join(ids.select(graft.sources.Retractions
        .losslessLongId(ids, idCol).as("doc_id")),
        Seq("doc_id"), "left_semi")
      .select(Dedup.exactHash(col("text")).as("h")).distinct()

  /** The composed curated table — (doc_id, source, n_tokens, text)
    * across the base snapshot and every fold, from any session, with
    * standing retractions applied (the store's tombstone filter — a
    * listing-guarded no-op when none stand). */
  def open(spark: SparkSession, path: String): DataFrame =
    store(path).open(spark, "docs")

  /** [[open]] AS OF fold batch `throughBatch`
    * ([[graft.sources.StandingStore.openAt]]'s contract: partition-
    * pruned bound, collapse-floor guard, retractions apply in full) —
    * the corpus leg of a cross-root consistent read
    * ([[IngestStream.lockstepView]]). */
  def openAt(spark: SparkSession, path: String,
      throughBatch: Long): DataFrame =
    store(path).openAt(spark, "docs", throughBatch)

  /**
   * Retract documents — the row-level delete this table was missing:
   * at 100 TB a delete must cost O(ids), so [[retract]] lands a
   * tombstone partition (`tombs/__batch=<batchId>/`, batch-keyed and
   * replay-idempotent like every fold), [[open]] anti-joins it
   * immediately, and the next [[compact]] purges the doc rows
   * physically and clears the applied tombstones.
   *
   * The content HASHES are retained deliberately — the SUPPRESSION
   * contract, and it is load-bearing twice over:
   *  - resubmitted identical content (any doc id) still dedups to
   *    zero, so a retraction is not silently undone by the next crawl
   *    of the same page;
   *  - a REPLAY of the retracted doc's own origin batch — the
   *    at-least-once case — probes the standing hashes, finds its
   *    content, and re-lands nothing: hash retention is what makes
   *    "purge + clear tombstone" safe against resurrection, where a
   *    content-probe-less table needs the settled-batch bound instead
   *    ([[graft.sources.StandingStore.compactThrough]]).
   * Truly forgetting the content (hash included) is a different verb
   * with different replay semantics; this one deletes the DOCUMENT
   * and keeps the one-way content fingerprint.
   *
   * `batchId` rides the fold clock (in-loop: the stream's batch id;
   * ad-hoc: the current [[batchWatermark]]), and the ids must already
   * stand — the causal order a delete request implies.
   */
  def retract(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String, batchId: Long): Unit = {
    store(path).retract(ids, idCol, batchId)
  }

  /** Swap order for [[compact]]'s staged dirs — HASHES (the
    * content-identity table) strictly before DOCS (the rows it
    * guards), per [[graft.sources.DirSwap]]'s prefix rule. A crash
    * between the two swaps leaves compacted hashes beside
    * uncompacted docs; a replaying fold's probe then finds the
    * batch's content in the BASE hash partition (which the probe
    * never excludes) and dedups to zero — the empty dynamic
    * overwrite touches no partitions, so the batch's single standing
    * docs copy survives. The REVERSE order is the round-10 crash
    * window: compacted docs (folds collapsed) beside uncompacted
    * hashes (fold partitions intact) makes the replay's probe — which
    * excludes the batch's OWN hash partition — find the content
    * nowhere standing and re-land the docs beside their base copies.
    * Do not reorder — and it cannot drift: this list derives from
    * [[Tables]], the same order the store's crash recovery uses. */
  private val SwapTables = Tables.map(_.name)

  /**
   * Compact every fold into the base snapshot: rewrite docs and
   * hashes as single `__batch = -1` partitions in a staging dir
   * (`path/.compact`), then swap each live dir in and prune strictly
   * after the swap — the [[graft.operators.CdcOps.compactSnapshotRetained]]
   * discipline on a path-rooted table. A long-lived table folds many
   * small batch partitions; compaction restores the file count and
   * the doc_id sort that row-group pruning in the release's text join
   * relies on, without changing one visible row (pinned in
   * CuratedCorpusSpec).
   *
   * Crash contract: the staging write completes before any live dir
   * is touched, so a crash mid-compact never loses rows. A crash
   * inside the swap is finished by the recovery preamble of the next
   * [[compact]]/[[foldBatch]] (or [[recoverSwap]] directly): past the
   * swap-commit marker, recovery rolls BOTH dirs forward to their
   * staged copies, so the mixed state never outlives the next
   * operation — in particular a re-run compact sees consistent fold
   * partitions and its hashes-landed guard keeps collapsing them
   * (stranding none). Until that recovery runs, the mixed state is
   * itself replay-safe because hashes swap FIRST (see [[SwapTables]]).
   * Folds keep composing afterwards: a replayed ALREADY-COMPACTED
   * batch dedups to zero against the base hash partition (which the
   * probe never excludes), so replay idempotence survives compaction.
   */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    val s = store(path)
    s.withLease(spark) {
      s.recoverSwap(spark)
      stageCompact(spark, path, targetFileBytes)
      graft.sources.DirSwap.swapStaged(spark, path, SwapTables)
      // retraction epilogue — strictly after the swap commits. Clear
      // ONLY when every docs fold collapsed: a fold that crashed
      // between its docs and hashes writes keeps its docs partition
      // (the hashes-landed guard above), and a replay of THAT batch
      // finds its content nowhere standing and re-lands it — so a
      // tombstone targeting it must stay until the replay healed the
      // hashes and a later compact collapsed the fold. Every other
      // batch's resurrection path is closed by hash retention (see
      // [[retract]]), so the guard is the rare-crash case only; until
      // it clears, the standing tombstones keep filtering reads.
      if (foldCount(spark, path) == 0)
        s.clearRetractionsThrough(spark, Long.MaxValue)
    }
  }

  /** [[compact]]'s watermark persist + staged rewrites, up to (not
    * including) the swap — split out so the crash-matrix spec can
    * stop between the two table swaps. Lease-guarded like every
    * staging seam ([[graft.sources.StandingStore
    * .stageCompactThrough]]'s rationale): a lease-less caller under a
    * live foreign compactor would stage a mid-swap root. */
  private[graft] def stageCompact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    require(graft.sources.Lease.heldByThisThread(path),
      s"stageCompact requires the $path lease (call under withLease)")
    val s = store(path)
    // fold a batch's DOCS into the base only if its HASHES landed: a
    // fold that crashed between its docs write and its hashes write
    // must keep its docs partition, so the stream's replay overwrites
    // it and lands the missing hashes — baking such docs into the
    // base would let the replay's anti-join (which finds none of the
    // batch's content standing) land them a second time. This is what
    // makes `maintain` safe to run mid-stream without the
    // settle-before-compact rule the content-probe-less tables need.
    // File counts and the staged writes (range on doc_id, the
    // (__batch, doc_id) sort that keeps files key-ordered even where
    // a staging partition mixes batch values) are the store's.
    val hashLanded = graft.sources.BatchPartitions
      .ids(spark, s"$path/hashes").toSet
    // persist the fold watermark BEFORE the partitions that carry it
    // collapse into the base — the release cadence keys on it, so it
    // must be monotone across compactions (idempotent overwrite; a
    // crash after this write and before the swap just re-records the
    // same value on the re-run). The openAt FLOOR rides the highest
    // batch this compact actually collapses — the hash-landed ones —
    // NOT the full watermark: a fold torn between its docs and hashes
    // writes keeps its docs partition standing (the guard below), so
    // bounds below its id remain exactly servable and must not be
    // refused (a lockstep view pinned by a slower sibling reads
    // through exactly that window).
    s.persistFoldWatermark(spark,
      hashLanded.filter(_ != BaseBatch)
        .foldLeft(BaseBatch)(math.max))
    // standing retractions purge here (rows anti-joined out of the
    // staged copy); the hashes below stay whole — the suppression
    // contract [[retract]] argues
    s.landStaging(
      s.applyRetractions(spark, s.openRaw(spark, "docs"), "doc_id")
        .withColumn("__batch",
          when(col("__batch").isin(hashLanded.toSeq: _*), lit(BaseBatch))
            .otherwise(col("__batch"))),
      "docs", s.fileCount(spark, "docs", Some(targetFileBytes)))
    s.landStaging(
      s.openRaw(spark, "hashes")
        .select("h").distinct()
        .withColumn("__batch", lit(BaseBatch)),
      "hashes", s.fileCount(spark, "hashes", Some(targetFileBytes)))
  }

  /** Finish a crashed [[compact]] swap ([[graft.sources.DirSwap.recover]]
    * over this table's two dirs). Safe on a healthy table (no-op). */
  def recoverSwap(spark: SparkSession, path: String): Unit =
    store(path).recoverSwap(spark)

  /** Number of FOLD partitions the table currently holds (the base
    * snapshot is not counted) — the quantity [[maintain]] bounds. A
    * directory listing, never a data scan. Counted on DOCS (not the
    * store's lead table): a fold that crashed between its two writes
    * has docs standing without hashes, and the dial should see it. */
  def foldCount(spark: SparkSession, path: String): Int =
    graft.sources.BatchPartitions.ids(spark, s"$path/docs")
      .count(_ != BaseBatch)

  /** The maintenance cadence: [[compact]] once the table has
    * accumulated `maxFolds` fold partitions, else no-op — the bounded
    * steady state a long-lived fold stream runs in (every `maxFolds`
    * batches, one compaction; file count and fold-partition count
    * never grow past the dial). Safe to run from inside the fold loop
    * itself: unlike the IVF index, a batch REPLAYED after compaction
    * folded it away still dedups to zero against the base hash
    * partition, so the settle-before-compact caution does not apply
    * here. Returns true iff it compacted. */
  def maintain(spark: SparkSession, path: String, maxFolds: Int): Boolean = {
    require(maxFolds >= 1, s"maxFolds must be >= 1, got $maxFolds")
    val due = foldCount(spark, path) >= maxFolds
    if (due) compact(spark, path)
    due
  }

  /** Highest batch id ever folded into the table ([[BaseBatch]] if
    * only the init snapshot) — the fold watermark a [[Release]]
    * records as lineage and the release cadence advances on. The
    * store's shared verb: max of the live fold partitions and the
    * marker [[compact]] persists (so the watermark is monotone across
    * compactions, which collapse the partitions that would otherwise
    * carry it). A directory listing plus one tiny file read. */
  def batchWatermark(spark: SparkSession, path: String): Long =
    store(path).batchWatermark(spark)

  /** Retire the table. */
  def delete(spark: SparkSession, path: String): Unit =
    store(path).delete(spark)

  /** Attach the stored token count (same null-as-zero rule as the
    * budget fill's text face, so the counted path is equivalent).
    * When the input already carries `n_tokens` — curatedKeptDocs
    * materializes it from the curation barrier's token array, which
    * is tokenCount(text) by construction — the carried count is
    * reordered into place instead of re-tokenizing; the text face
    * below stays for bare (doc_id, source, text) callers. */
  private[pipeline] def withCounts(curated: DataFrame): DataFrame =
    if (curated.columns.contains("n_tokens"))
      curated.select(col("doc_id"), col("source"),
        coalesce(col("n_tokens").cast("long"), lit(0L)).as("n_tokens"),
        col("text"))
    else
      curated.select(col("doc_id"), col("source"),
        coalesce(
          graft.text.TextAnalysis.tokenCount(col("text")).cast("long"),
          lit(0L)).as("n_tokens"),
        col("text"))
}
