package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * PERSISTED trained-IVF index — the at-rest form of the
 * [[Similarity.trainCentroidsDistributed]] +
 * [[Similarity.ivfTopK]] pair, separating the two costs a production
 * ANN service must not conflate:
 *
 *   - TRAIN (rare): sampled Lloyd seed + full-corpus refinement rounds,
 *     then ONE assignment pass laying the corpus out cell-partitioned —
 *     [[write]], run per corpus snapshot;
 *   - PROBE (constant): read K centroid rows, pick nprobe cells on the
 *     driver, scan ONLY those cells' partitions (directory-level
 *     partition pruning — non-probed cells are never opened), exact
 *     cosine rerank — [[probe]], run per query batch.
 *
 * A harness that retrains per run (the pre-round-8 q_ann_ivf_trained)
 * charges every probe the training bill; at 100 TB the trained index
 * is days of standing state and the probe is the only recurring cost.
 *
 * Layout under `path`:
 *   - `centroids/` — K rows (cell, weights array<double>);
 *   - `corpus/cell=<i>/__batch=<b>/` — (id, vec) parquet, partitioned
 *     by cell (so `cell IN (...)` prunes at the directory level) then
 *     by the append batch (`__batch = -1` for the base snapshot), so
 *     a replayed append OVERWRITES exactly its own (cell, batch)
 *     partitions instead of duplicating rows — see [[append]].
 *
 * The probe's output contract is IDENTICAL to the in-query
 * [[Similarity.ivfTopK]] (same centroids ⇒ same cells, floats
 * round-trip parquet exactly, same rerank) — pinned by the
 * q_ann_ivf_trained golden hash and the equality case in AnnLayoutSpec.
 */
object IvfIndex {

  /** Collision-free scratch location for an index over `sourceDir`:
    * the sanitized source dir (readability when listing /tmp) plus a
    * process-unique token, so two concurrent sessions over the SAME
    * dir — or two dirs with colliding hashCodes — each write and probe
    * their OWN index instead of overwriting each other's mid-probe.
    * Callers cache the result per (session, dir), so the cost is one
    * UUID per standing index, and a production deployment would swap
    * the token for its corpus-snapshot id. */
  def scratchPath(sourceDir: String): String =
    graft.Scratch.path("graft_ivf", sourceDir)

  /** SNAPSHOT-KEYED index location — the cross-session twin of
    * [[scratchPath]]: deterministic in (base, snapshotId), so a later
    * session over the same corpus snapshot finds the index a prior
    * session trained instead of retraining. `snapshotId` is the
    * caller's corpus identity (a content fingerprint, an ingest
    * watermark, a catalog version) — anything that changes exactly
    * when the corpus the index serves changes. NOT registered for
    * JVM-exit cleanup: a snapshot index outliving its builder is the
    * point; retire it with [[delete]] when the snapshot is
    * superseded (the retrain-and-swap loop does this). */
  def snapshotPath(base: String, snapshotId: String): String =
    s"$base/$SnapPrefix${snapshotId.replaceAll("[^A-Za-z0-9._-]", "_")}"

  /** Directory-name prefix every [[snapshotPath]] index shares under
    * its base — what [[pruneSnapshots]] enumerates. */
  val SnapPrefix = "graft_ivf_snap_"

  /**
   * Keep-N retention for the [[snapshotPath]] family —
   * [[graft.pipeline.Release.prune]]'s discipline applied to
   * snapshot-keyed index roots, closing the accumulate-forever gap
   * the drift loop's delete-on-swap shortcut leaves for deployments
   * that RETAIN versions so in-flight probers are never raced
   * (the production story [[graft.streaming.EventTimeOps.ivfMaintainOnce]]'s
   * scaladoc gestures at). Snapshot ids are opaque, so COMMIT order
   * is the version order: indexes rank by their CENTROIDS `_SUCCESS`
   * marker's time (name-tiebroken) — centroids are written once per
   * build and never touched by appends or compactions, whereas the
   * corpus marker is rewritten by every append job, which would make
   * the rank last-write order and retire a newer commit over a
   * recently-appended older one. The newest `keep` COMPLETE indexes
   * are retained; every snapshot root strictly older than the oldest
   * retained one — committed or partial — is deleted, EXCEPT a root
   * whose lease names a live owner (an `ensure` mid-train: its dir
   * mtime is older than any commit landing during the train, so
   * liveness, not age, is what protects it). Retained versions'
   * probes are untouched (nothing under a retained root is
   * modified); a base with no committed index deletes nothing. Runs
   * under the BASE's [[graft.sources.Lease]] so a concurrent pruner
   * fails fast.
   */
  /** Snapshot roots under `base` — the [[snapshotPath]] family, the
    * ONE place its directory layout is known (retention and fsck both
    * enumerate through here, so the layout cannot drift between
    * them). */
  def listSnapshots(spark: SparkSession,
      base: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(s =>
      s.isDirectory && s.getPath.getName.startsWith(SnapPrefix))
  }

  def pruneSnapshots(spark: SparkSession, base: String, keep: Int): Unit = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    graft.sources.Lease.withLease(spark, base) {
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) {
        val snaps = listSnapshots(spark, base)
        def commitTime(s: org.apache.hadoop.fs.FileStatus): Option[Long] =
          if (!isComplete(spark, s.getPath.toString)) None
          else Some(fs.getFileStatus(
            new org.apache.hadoop.fs.Path(s.getPath, "centroids/_SUCCESS"))
            .getModificationTime)
        def rank(s: org.apache.hadoop.fs.FileStatus): (Long, String) =
          (commitTime(s).getOrElse(s.getModificationTime),
            s.getPath.getName)
        val floor = snaps.filter(s => commitTime(s).isDefined)
          .map(rank).sorted.takeRight(keep).headOption
        snaps.foreach { s =>
          if (floor.exists(f => Ordering[(Long, String)].lt(rank(s), f)) &&
            !graft.sources.Lease.heldByLiveOwner(spark, s.getPath.toString)) {
            fs.delete(s.getPath, true); ()
          }
        }
      }
    }
  }

  /** True iff BOTH halves of an index at `path` committed (parquet's
    * `_SUCCESS` markers). [[write]] lands centroids before corpus, so
    * a crash mid-build leaves the pair incomplete and the next
    * [[ensure]] rebuilds it — the marker pair IS the validity
    * protocol. */
  def isComplete(spark: SparkSession, path: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    def committed(sub: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$sub/_SUCCESS")
      p.getFileSystem(conf).exists(p)
    }
    committed("centroids") && committed("corpus")
  }

  /** OPEN-IF-VALID: reuse the complete index at `path`, else train
    * (the by-name `train` thunk — not evaluated on the reuse path,
    * which is the whole economy: "train once per snapshot, probe
    * forever" now crosses the session boundary) and [[write]].
    * Returns the resident centroid matrix either way, ready for
    * [[probeResident]]. The build path runs under the root's
    * [[graft.sources.Lease]]: of two racing ensures of the SAME
    * snapshot path, one trains and one fails fast
    * (`HeldElsewhereException`) — and a retry after the winner
    * finishes takes the reuse path (the completeness check re-runs
    * inside the lease). Cross-session reuse and the not-retrained
    * guarantee are pinned by AnnLayoutSpec's two-session case. */
  def ensure(corpus: => DataFrame, idCol: String, vecCol: String,
      spark: SparkSession, path: String)(
      train: => Seq[Array[Double]]): Seq[Array[Double]] =
    if (isComplete(spark, path)) readCentroids(spark, path)
    else graft.sources.Lease.withLease(spark, path) {
      // re-check under the lease: the prior holder may have been a
      // racing ensure that completed this same index
      if (isComplete(spark, path)) readCentroids(spark, path)
      else {
        val cents = train
        write(corpus, idCol, vecCol, cents, path)
        readCentroids(spark, path)
      }
    }

  /** Base-snapshot marker in the `__batch` partition column. */
  val BaseBatch = -1L

  /** Train-side write: centroids + the corpus laid out cell-partitioned
    * (one assignment pass — K plan-constant dots per row, no shuffle;
    * the write's only exchange is the partitioned output itself). */
  def write(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]], path: String): Unit =
    // the build verb rewrites both halves — same per-root lease as
    // every maintenance entry point (re-entrant under ensure and the
    // retrain loop's thread), so racing writers fail fast
    graft.sources.Lease.withLease(corpus.sparkSession, path) {
      writeUnguarded(corpus, idCol, vecCol, centroids, path)
    }

  private def writeUnguarded(corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Array[Double]], path: String): Unit = {
    require(centroids.nonEmpty, "IvfIndex.write needs at least one centroid")
    val spark = corpus.sparkSession
    import spark.implicits._
    // clear STALE COMPACTION STAGING before rewriting: a compact that
    // crashed pre-swap leaves .compact + _SWAP behind, and the next
    // append's recover would otherwise swap the pre-crash corpus in
    // UNDER the new centroids — both markers standing, silently wrong
    // cell pruning
    val rootFs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(".compact", ".old_corpus").foreach(d =>
      rootFs.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true))
    // invalidate FIRST when rewriting over a complete index: the two
    // overwrites below are not atomic together, and a crash between
    // them must leave the index reading as incomplete (so ensure()
    // rebuilds), never as new-centroids-over-the-OLD-cell-layout with
    // both _SUCCESS markers still standing (silently wrong pruning) —
    // the same drop-the-commit-marker-before-rewriting rule as
    // Release.commitVersion
    val marker = new org.apache.hadoop.fs.Path(s"$path/corpus/_SUCCESS")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, false)
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "weights")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    Similarity.assignWithVectors(corpus, idCol, vecCol, centroids)
      .withColumn("__batch", lit(BaseBatch))
      .write.mode("overwrite").partitionBy("cell", "__batch")
      .parquet(s"$path/corpus")
    // standing tombstones target the layout the rewrite just
    // superseded (the caller's corpus is the post-retraction truth) —
    // clear them strictly AFTER the new corpus commits: a crash
    // before this leaves idempotent filters standing, whereas
    // clearing first would let a crash re-serve retracted ids from
    // the still-complete OLD index with nothing left to filter them
    rootFs.delete(new org.apache.hadoop.fs.Path(
      s"$path/${graft.sources.Retractions.Dir}"), true)
    ()
  }

  /** Incremental cell APPEND — the per-batch face of the standing
    * index. A new batch is assigned against the RESIDENT centroids
    * (the same argmax/tie-break as [[write]], so appended rows land in
    * exactly the cells a full rewrite would put them in) and written
    * into its cells' `__batch = batchId` partitions; untouched cells'
    * files are never rewritten. This is the same append-only
    * discipline as every other standing index here (band signatures,
    * SimHash, cluster assignments): per-batch cost is O(|batch|)
    * assignment + the appended files, while [[write]] — a full corpus
    * rewrite — is the per-SNAPSHOT cost (and the moment to retrain
    * centroids if the batch drift gate fired).
    *
    * `batchId` makes the append IDEMPOTENT under redelivery: the
    * write is a DYNAMIC partition overwrite, so replaying a batch id
    * (Structured Streaming's foreachBatch is at-least-once —
    * [[graft.streaming.EventTimeOps.ivfAppendStream]] passes the
    * stream's own batch id through) replaces exactly its own
    * (cell, batch) partitions instead of duplicating rows. Distinct
    * batches MUST use distinct ids ≥ 0 ([[BaseBatch]] is reserved) —
    * which for a stream means running WITH a checkpointLocation, so
    * batch ids stay monotone across restarts (a checkpointless
    * restart reuses id 0 for NEW data, which overwrite semantics
    * cannot repair). Probe-after-append ≡ probe-after-full-rewrite
    * and same-id replay-idempotence are pinned by AnnLayoutSpec; the
    * stream face's id plumbing by EventTimeSpec's restart case. */
  def append(batch: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]], path: String, batchId: Long): Unit = {
    require(centroids.nonEmpty, "IvfIndex.append needs at least one centroid")
    require(batchId != BaseBatch, s"batch id $BaseBatch is the base snapshot")
    // heal a crashed compact swap BEFORE writing: an append that runs
    // first (a restarted stream replaying into a half-swapped index)
    // would recreate the corpus dir with only its own rows, and the
    // next recovery would then prune the staged full copy. The WRITE
    // form: refuses under a live foreign owner's pending swap
    graft.sources.DirSwap.recoverOrRefuseWrites(batch.sparkSession, path,
      Seq("corpus"))
    Similarity.assignWithVectors(batch, idCol, vecCol, centroids)
      .withColumn("__batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell", "__batch")
      .parquet(s"$path/corpus")
  }

  /**
   * Retract documents from the SERVED index by id — O(ids) tombstone
   * write ([[graft.sources.Retractions]] discipline): [[probe]] /
   * [[probeResident]] / [[semanticDedup]] stop answering for the ids
   * at once (a listing-guarded anti-join — plan-identical in the
   * steady state), and the next [[compactThrough]] purges the cell
   * rows physically. A [[write]]-time full rebuild clears standing
   * tombstones with the layout they target (the caller's corpus is
   * the post-retraction truth — in the composed pipeline, the curated
   * table [[graft.pipeline.IngestStream.retractDocs]] already
   * filtered). `batchId` rides the append clock and must not predate
   * a standing append (same causal bound as every standing structure:
   * a tombstone counted settled while its targets' append is still
   * replayable would purge-then-clear into a resurrection).
   */
  def retract(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String, batchId: Long): Unit = {
    require(batchId != BaseBatch && batchId >= 0,
      s"retraction batch ids must be ≥ 0 (got $batchId)")
    // recover + the causal listing run INSIDE the lease: an unleased
    // recover racing a lease-holding compaction mid-swap would have
    // both sides renaming the same dirs, and the listing could read a
    // half-swapped layout
    graft.sources.Lease.withLease(spark, path) {
      graft.sources.DirSwap.recover(spark, path, Seq("corpus"))
      val late = graft.sources.BatchPartitions
        .ids(spark, s"$path/corpus", nested = true)
        .filter(b => b != BaseBatch && b > batchId)
      require(late.isEmpty,
        s"retraction batch $batchId predates standing appends " +
          s"${late.sorted.mkString("[", ",", "]")} of $path — " +
          "date deletes on the append clock's current watermark")
      graft.sources.Retractions.land(ids, idCol, batchId, path)
    }
  }

  /**
   * Compact every append into the base snapshot: rewrite the corpus
   * as `cell=<i>/__batch=-1` partitions only ([[graft.sources.DirSwap]]
   * staged-swap discipline — staging completes before the live dir is
   * touched, prune strictly after the swap, a crashed swap is healed
   * by re-running). A long drift-free run appends one small partition
   * per (touched cell, batch); compaction restores the file count so
   * a probe's pruned cell scan opens one file per cell again, without
   * changing one probe answer (AnnLayoutSpec). Centroids are
   * untouched — compaction is a layout operation, never a retrain.
   *
   * Standing retractions PURGE here when the caller names the
   * corpus's id column (`retractIdCol` — the layout stores
   * caller-named columns, so the purge join needs the name); the
   * settled tombstones then clear strictly after the swap. With
   * tombstones standing and NO id column given, compaction REFUSES
   * rather than silently clearing unpurged deletes.
   *
   * Call only once the append stream's checkpoint has advanced past
   * the folded batches: unlike the curated corpus (whose fold probe
   * dedups re-landed content), an append REPLAYED after its batch
   * partitions were compacted away would land its rows a second time
   * — the checkpointed-stream contract [[append]] already requires
   * rules this out, and it is the same settle-before-compact rule as
   * any log compaction. From INSIDE the append loop, use
   * [[compactThrough]] with the previous batch id instead — it folds
   * only batches the checkpoint has committed.
   */
  def compact(spark: SparkSession, path: String,
      retractIdCol: Option[String] = None): Unit =
    compactThrough(spark, path, Long.MaxValue, retractIdCol)

  /** [[compact]] bounded to SETTLED appends: fold only batches with
    * id ≤ `throughBatch` into the base, leaving newer appends as
    * their own partitions — the form the append stream runs from
    * inside `foreachBatch(N)` with `throughBatch = N - 1` (those
    * batches are checkpoint-committed, so the replay that would
    * duplicate compacted rows can no longer occur; a replay of a
    * LEFT-ALONE batch still overwrites its own partitions).
    *
    * Reader caveat: this rewrites the SERVED path in place — a probe
    * whose file listing lands in the swap's brief non-live window (or
    * across the prune) fails and should retry; a deployment that must
    * serve probes through maintenance retains versions instead (the
    * `Resident` swap-then-retire pattern in
    * [[graft.streaming.EventTimeOps.ivfMaintainOnce]]). */
  def compactThrough(spark: SparkSession, path: String,
      throughBatch: Long, retractIdCol: Option[String] = None): Unit =
    graft.sources.Lease.withLease(spark, path) {
      graft.sources.DirSwap.recover(spark, path, Seq("corpus"))
      val tombBatches = graft.sources.Retractions.batchIds(spark, path)
      require(tombBatches.isEmpty || retractIdCol.nonEmpty,
        s"tombstones stand under $path but compactThrough was not told " +
          "the corpus id column (retractIdCol) — refusing to clear " +
          "unpurged deletes")
      // an index over a zero-row corpus has no partition dirs (and no
      // footers to infer a schema from) — nothing to fold or resize
      if (graft.sources.BatchPartitions
          .ids(spark, s"$path/corpus", nested = true).nonEmpty) {
        val corpus = graft.Tables.readParquet(spark, s"$path/corpus")
        val purged = (retractIdCol, tombBatches.isEmpty) match {
          case (Some(c), false) => graft.sources.Retractions.antiJoin(
            corpus, c, graft.sources.Retractions.open(spark, path))
          case _ => corpus
        }
        // cluster the rewrite on cell so each (cell, batch) lands as
        // ~one file — the probe-side file count is the point
        val staging = graft.sources.DirSwap.stagingDir(path, "corpus")
        purged
          .withColumn("__batch",
            when(col("__batch") <= throughBatch, lit(BaseBatch))
              .otherwise(col("__batch").cast("long")))
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell", "__batch")
          .parquet(staging)
        // a purge that empties the corpus would install a dir with no
        // data files — schema-less reads of the index would then fail
        // (no footers to infer from). Deleting EVERY served document
        // is an index-retirement decision, not a compaction side
        // effect: refuse, leaving the data and the tombstone filters
        // standing (reads stay correct; retire with delete() or
        // rebuild with write() from the post-retraction corpus). The
        // guard is a LISTING of the staged dir — zero surviving rows
        // leave no cell=* partition under it — so the anti-joined
        // corpus is scanned exactly once (the staged write), not once
        // more for an emptiness probe while tombstones stand.
        val stagingPath = new org.apache.hadoop.fs.Path(staging)
        val fs = stagingPath
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val stagedEmpty = !fs.listStatus(stagingPath).exists(st =>
          st.isDirectory && st.getPath.getName.startsWith("cell="))
        if (stagedEmpty) {
          // abort: drop the inert staging (no _SWAP marker was set,
          // so nothing would have rolled it forward anyway)
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/.compact"), true)
          throw new IllegalArgumentException(
            s"retraction empties the index at $path — retire it with " +
              "delete() or rebuild it with write(); compaction refuses " +
              "to install an unreadable zero-row corpus")
        }
        graft.sources.DirSwap.swapStaged(spark, path, Seq("corpus"))
      }
      graft.sources.Retractions.clearThrough(spark, path, throughBatch,
        standing = Some(tombBatches))
    }

  /** Distinct append batches the corpus layout currently holds (a
    * two-level directory listing, never a data scan) — the quantity
    * the append stream's `compactEvery` dial bounds. */
  def appendBatchCount(spark: SparkSession, path: String): Int =
    graft.sources.BatchPartitions.ids(spark, s"$path/corpus", nested = true)
      .count(_ != BaseBatch)

  /** The SemDeDup shadow rule over the AT-REST corpus — the production
    * composition the [[Similarity.semanticDedup]] scaladoc promises:
    * the semantic partition is the index's materialized cell layout
    * (assignment precomputed at index-build time — zero K-dot work
    * here), the pair join's one exchange hashes the stored cell key,
    * and each cell's files are read cell-local thanks to the
    * directory partitioning. Verdict-identical to the in-query rule on
    * the same centroids (SemanticDedupSpec's at-rest equality case). */
  def semanticDedup(spark: SparkSession, path: String,
      idCol: String, vecCol: String, threshold: Double): DataFrame =
    Similarity.semanticDedupAssigned(
      graft.sources.Retractions(spark, path,
        graft.Tables.readParquet(spark, s"$path/corpus")
          .filter(col(vecCol).isNotNull)
          .select(col(idCol), col(vecCol), col("cell")),
        idCol),
      idCol, vecCol, threshold)

  /** The RAM-resident half of a SERVED index, as one swappable unit:
    * the at-rest path, the centroid matrix probes prune with, and the
    * standing embedding profile the drift gate measures against (with
    * its release handle). The retrain-and-swap loop
    * ([[graft.streaming.EventTimeOps.ivfMaintainOnce]]) holds one of
    * these in an `AtomicReference`: probers read whatever version is
    * current, a retrain installs the successor in one `set`, and only
    * then is the predecessor's path retired — the
    * `compactSnapshotRetained` swap-then-retire discipline applied to
    * the index lifecycle. */
  final case class Resident(path: String, centroids: Seq[Array[Double]],
      profile: DataFrame, releaseProfile: () => Unit,
      builtBy: Option[Long] = None)

  // `builtBy` is the maintain-loop batch id whose retrain installed
  // this version (None for a bootstrap index): it is how the loop
  // tells a REDELIVERED retrain batch (same id — converge via append)
  // from a first delivery that merely collides with the served path.

  /** Retire an index — the lifecycle's last verb (write / append /
    * probe / delete), the at-rest twin of the in-memory standing
    * indexes' release handles: call when the corpus snapshot this
    * index serves is superseded (the retrained replacement lives at
    * its own [[scratchPath]], so readers of the old index are never
    * raced — same swap-then-retire discipline as
    * `CdcOps.compactSnapshotRetained`). Hadoop FS API, so the path may
    * be any Spark-reachable filesystem. */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }

  /** Read back the trained centroids (K rows — driver-side by
    * construction, like every centroid structure here). */
  def readCentroids(spark: SparkSession, path: String): Seq[Array[Double]] =
    graft.Tables.readParquet(spark, s"$path/centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray).toSeq

  /** Probe-side read: load centroids, scan only the probed cells'
    * partitions, exact cosine rerank ([[Similarity.ivfTopKAssigned]]).
    * Callers probing repeatedly should [[readCentroids]] once and use
    * [[probeResident]] — the K·dims centroid matrix is the RAM-resident
    * half of an IVF index; only the cells live at rest. */
  def probe(spark: SparkSession, path: String,
      queries: Seq[(Long, Array[Double])], idCol: String, vecCol: String,
      nprobe: Int, k: Int): DataFrame =
    probeResident(spark, path, readCentroids(spark, path), queries,
      idCol, vecCol, nprobe, k)

  /** [[probe]] with the centroids already resident: the steady-state
    * per-query-batch cost is the pruned cell scan + rerank, plus
    * driver-side metadata only — the corpus listing and ONE footer
    * read for its schema ([[graft.Tables.readParquet]]), no Spark job
    * outside the probe's own query and no thread started to resolve
    * the corpus relation. */
  def probeResident(spark: SparkSession, path: String,
      centroids: Seq[Array[Double]], queries: Seq[(Long, Array[Double])],
      idCol: String, vecCol: String, nprobe: Int, k: Int): DataFrame = {
    // standing retractions filter the candidate side at once (a
    // listing-guarded no-op in the steady state) — a deleted doc must
    // never be served as a neighbor between the delete and the purge
    val assigned = graft.sources.Retractions(spark, path,
      graft.Tables.readParquet(spark, s"$path/corpus")
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
          col("cell")),
      "neighbor_id")
    Similarity.ivfTopKAssigned(assigned, queries, centroids, nprobe, k)
  }
}
