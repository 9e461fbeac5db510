package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{PointReads, StandingStore, TableSpec}

/**
 * PERSISTED minhash-signature table — the durable twin of the
 * session-RAM band index ([[Dedup.corpusNearDupIndex]]) every
 * incremental near-dup consumer probes, built on the shared
 * [[graft.sources.StandingStore]] lifecycle (leased build verbs,
 * batch-keyed replay-idempotent folds, staged-swap compaction). What
 * it buys at 100 TB: a RESTARTED fold/ingest loop loads fixed-width
 * signature rows (NumHashes strings per doc) instead of re-signing
 * the corpus — tokenize + shingle + minhash over every document is
 * the dominant restart cost, and it is exactly the work this table
 * makes once-per-document instead of once-per-session.
 *
 * Layout under `path`:
 * {{{
 *   sigs/__batch=<b>/   (doc_id, sig), doc_id-sorted inside files
 *   bands/__batch=<b>/  (band_key, doc_id), band_key-sorted inside
 *                       files, small pages — the PRE-EXPLODED LSH
 *                       band rows of the same signatures
 * }}}
 * `__batch = -1` is the corpus snapshot, each fold appends its own
 * partitions. Folds are REPLAY-IDEMPOTENT (batch-keyed dynamic
 * partition overwrite). Signatures are per-document facts — a doc
 * folded twice never changes a verdict (the scan-shaped
 * [[Dedup.probeAtRestSignatures]] repeats its row per stored copy,
 * [[probe]] does not) — but compaction still folds
 * SETTLED batches only ([[compactThrough]], the
 * [[graft.ann.IvfIndex.compactThrough]] discipline), so a replay
 * after compaction overwrites its own standing partition instead of
 * re-landing beside base copies.
 *
 * ==Probe-read contract==
 * [[probe]] reads `O(|batch|)` bytes per call, NOT `O(|corpus|)` —
 * the bound every at-rest index probe here must honor (the
 * embedding twin inherits it by construction):
 *  - candidates come from the `bands` table via
 *    [[graft.sources.PointReads.keyedFilter]] over the batch's
 *    band keys — band_key-sorted small pages mean the scan reads
 *    ≈ `|batch| · numBands · PageRowLimit` rows wherever no page
 *    holds a probe key, independent of corpus size;
 *  - the exact-Jaccard verify reads only the CANDIDATE ids' text:
 *    candidate (batch_id, corpus_id) pairs are batch-bounded and
 *    collected (capped), and the ids push the same point filter
 *    into the corpus text scan, whose doc_id-sorted layout
 *    (CuratedCorpus's write discipline) prunes its row groups.
 *    (Deliberate asymmetry with the embedding twin: [[graft.ann
 *    .EmbedIndex]] carries its verify payload IN the bucket rows —
 *    a vector is dims·4 bytes, so the posting-list layout costs
 *    bands× that and saves a whole read leg — but THIS lane's
 *    verify payload is the document's shingle set, corpus-text-
 *    sized, so band rows stay narrow and the verify point-reads
 *    the text instead.)
 * Above the driver cap the probe falls back to the scan-shaped
 * [[Dedup.probeAtRestSignatures]] plan — same output, the cap only
 * picks which side pays. Probe ≡ in-RAM equality, the composed
 * cross-session loop (probe → fold edges → fold signatures → a
 * LATER SESSION probes the folded content without re-signing
 * anything), and the pruned-read bound are pinned in
 * SignatureIndexSpec; read flatness under 10× corpus growth in the
 * scale smoke. The band_key sortedness the bound rests on holds for
 * FOLD partitions too, not just the compacted base: every store
 * write sorts by `(__batch, band_key)`, so the partitioned writer
 * never injects its own order (the StandingStore write rule).
 */
object SignatureIndex {

  /** Base-snapshot marker in the `__batch` partition column. */
  val BaseBatch: Long = StandingStore.BaseBatch

  private def store(path: String) = new StandingStore(path, Seq(
    TableSpec("sigs", "doc_id LONG, sig ARRAY<STRING>, __batch LONG",
      Seq("doc_id"), retractCol = Some("doc_id")),
    // bands rows are ≈ sigs rows × numBands but narrower: size their
    // files off the sibling sigs dir at a smaller target — ONE sizing
    // rule for the base write and every compaction
    TableSpec("bands", "band_key STRING, doc_id LONG, __batch LONG",
      Seq("band_key"), pageRowLimit = Some(PointReads.PageRowLimit),
      targetFileBytes = 64L << 20, sizeFrom = Some("sigs"),
      retractCol = Some("doc_id"))))

  /** Collision-free scratch location for the harness (see
    * [[graft.Scratch]]); production keys by corpus-snapshot id. */
  def scratchPath(sourceDir: String): String =
    graft.Scratch.path("graft_sigs", sourceDir)

  /** Corpus-snapshot write: sign every document once and land the
    * base partition. Runs under the root's lease (the build verb,
    * like every standing structure here). */
  def write(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val s = store(path)
    val spark = docs.sparkSession
    s.withLease(spark) {
      s.clearForRewrite(spark)
      s.landBase(signed(docs, idCol, textCol), "sigs")
      // band rows derive from the JUST-WRITTEN fixed-width sigs — the
      // corpus text is tokenized exactly once, above; range-partition
      // so the base is globally band_key-sorted from birth
      s.landBase(bandsOf(s.open(spark, "sigs")), "bands",
        rangeFiles = Some(s.fileCount(spark, "bands")))
    }
  }

  /** (band_key, doc_id) rows of a (doc_id, sig, …) frame — the
    * degenerate-doc guard rides in [[Dedup.bandRows]]. */
  private def bandsOf(sigFrame: DataFrame): DataFrame =
    Dedup.bandRows(sigFrame)
      .select(col("band_key"), col("doc_id"))

  /** Fold one batch's signatures as its own partition — batch-sized
    * bytes, replay-idempotent (dynamic overwrite keyed by the
    * stream's batch id; ids ≥ 0, distinct per batch). */
  def foldBatch(path: String, batchDocs: DataFrame, idCol: String,
      textCol: String, batchId: Long): Unit =
    foldBatchSigned(path, signed(batchDocs, idCol, textCol), batchId)

  /** [[foldBatch]] over ALREADY-COMPUTED signatures (doc_id, sig) —
    * the face a router that signed the batch for its own probe uses,
    * so the tokenize+shingle+digest work is paid once per batch, not
    * once per consumer. */
  def foldBatchSigned(path: String, batchSigs: DataFrame,
      batchId: Long): Unit = {
    val s = store(path)
    // heal a crashed compact swap before writing — the WRITE form:
    // refuses under a live foreign owner's pending swap (the shared
    // write-path preamble — see CuratedCorpus.foldBatch)
    s.recoverSwapForWrite(batchSigs.sparkSession)
    val sigRows = batchSigs.select(col("doc_id"), col("sig"))
    s.landFold(sigRows, "sigs", batchId)
    s.landFold(bandsOf(sigRows), "bands", batchId)
  }

  /** Finish a crashed [[compactThrough]] swap — what a READER-FIRST
    * consumer (a router that probes before it folds) must run before
    * [[open]], or a crash inside the swap window leaves the live dir
    * missing and every retry fails before the fold's own recovery
    * can run. Safe on a healthy table (no-op). */
  def recoverSwap(spark: SparkSession, path: String): Unit =
    store(path).recoverSwap(spark)

  /** Retract documents by id — O(ids) tombstone write; [[open]] /
    * [[openBands]] filter immediately (so [[probe]] stops surfacing
    * the ids as candidates), the next compaction purges the sig and
    * band rows physically ([[graft.sources.StandingStore.retract]]). */
  def retract(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String, batchId: Long): Unit = {
    store(path).retract(ids, idCol, batchId)
  }

  private def signed(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      Dedup.minhashSignature(col(textCol)).as("sig"))

  /** The composed signature table — (doc_id, sig) across the base
    * and every fold, from any session. Feed to
    * [[Dedup.probeAtRestSignatures]]; the production probe is
    * [[probe]] (bounded reads — see the class doc's contract). */
  def open(spark: SparkSession, path: String): DataFrame =
    store(path).open(spark, "sigs")

  /** [[open]] AS OF fold batch `throughBatch`
    * ([[graft.sources.StandingStore.openAt]]'s contract) — the
    * signature leg of a cross-root consistent read
    * ([[graft.pipeline.IngestStream.lockstepView]]). */
  def openAt(spark: SparkSession, path: String,
      throughBatch: Long): DataFrame =
    store(path).openAt(spark, "sigs", throughBatch)

  /** Highest batch id ever folded (the store's shared verb — monotone
    * across compactions via the persisted marker). */
  def batchWatermark(spark: SparkSession, path: String): Long =
    store(path).batchWatermark(spark)

  /** The composed (band_key, doc_id) band table — [[probe]]'s
    * candidate source; exposed for the fsck/diagnostic face. */
  def openBands(spark: SparkSession, path: String): DataFrame =
    store(path).open(spark, "bands")

  /**
   * The PRODUCTION probe — batch signatures against the at-rest
   * table, honoring the class doc's probe-read contract: candidate
   * generation point-reads the band_key-sorted `bands` table with
   * the batch's own band keys, and the exact-Jaccard verify
   * point-reads only the candidate ids' text out of `corpusText`
   * (doc_id-sorted — CuratedCorpus's write discipline). Output ≡
   * [[Dedup.probeAtRestSignatures]] ≡ the in-RAM probe
   * (SignatureIndexSpec pins all three): (batch_id, corpus_id,
   * jaccard), one row per matching pair.
   *
   * Driver cost per call: the batch's distinct band keys plus the
   * candidate (batch_id, corpus_id) pairs, both capped at `cap`
   * ([[graft.sources.PointReads.MaxKeys]]); above either cap the
   * call falls back to the scan-shaped plan — same rows, the cap
   * only picks which side pays (a batch that large is no longer a
   * micro-batch and amortizes the scan it forces).
   *
   * `batchSig` is a [[Dedup.batchSignatures]] frame (batch_id,
   * sh_batch, sig); `corpusText` must cover every id the signature
   * table holds — a missing id silently drops its candidate pairs
   * (inner join), exactly like the fallback plan.
   */
  def probe(batchSig: DataFrame, path: String, corpusText: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      cap: Int = PointReads.MaxKeys): DataFrame = {
    val spark = batchSig.sparkSession
    val batchBands = Dedup.bandRows(batchSig)
    PointReads.distinctKeys(batchBands, "band_key", cap) match {
      case None =>
        Dedup.probeAtRestSignatures(batchSig, open(spark, path),
          corpusText, idCol, textCol, threshold)
      case Some(keys) =>
        // candidates: point-read matching band pages, resolve to
        // distinct (batch_id, corpus_id) — batch-bounded by construction
        val cand = openBands(spark, path)
          .filter(PointReads.keyedFilter(col("band_key"), keys))
          .join(broadcast(batchBands), "band_key")
          .select(col("batch_id"), col("doc_id").as("corpus_id"))
          .distinct()
          .limit(cap + 1)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        if (cand.length > cap)
          Dedup.probeAtRestSignatures(batchSig, open(spark, path),
            corpusText, idCol, textCol, threshold)
        else if (cand.isEmpty)
          batchSig.select(col("batch_id"),
            col("batch_id").as("corpus_id"),
            lit(0.0).as("jaccard")).limit(0)
        else {
          import spark.implicits._
          val ids = cand.map(_._2).distinct.toSeq
          val text = corpusText
            .filter(PointReads.keyedFilter(col(idCol), ids))
            .select(col(idCol).as("corpus_id"),
              col(textCol).as("__text"))
          broadcast(cand.toSeq.toDF("batch_id", "corpus_id"))
            .join(batchSig.select(col("batch_id"), col("sh_batch")),
              "batch_id")
            .join(text, "corpus_id")
            .withColumn("sh_corpus", Dedup.shingles(col("__text")))
            .withColumn("jaccard",
              Dedup.jaccard(col("sh_batch"), col("sh_corpus")))
            .filter(col("jaccard") >= threshold)
            .select(col("batch_id"), col("corpus_id"), col("jaccard"))
        }
    }
  }

  /** Fold every SETTLED batch (id ≤ `throughBatch`) into the base —
    * restores the probe-side file count; from `foreachBatch(N)` call
    * with `throughBatch = N - 1` so a replay of the current batch
    * still overwrites its own standing partition. The store's default
    * compaction applies (signature folds are plain rows); both tables
    * stage before either swaps, and either mixed prefix is
    * content-identical anyway — compaction relabels partitions, it
    * never changes rows (DRIVEN in SignatureIndexSpec's mixed-prefix
    * case: probes answer identically with compacted sigs beside
    * pre-compaction bands, before any recovery runs). */
  def compactThrough(spark: SparkSession, path: String,
      throughBatch: Long, targetFileBytes: Long = 128L << 20): Unit =
    store(path).compactThrough(spark, throughBatch,
      Map("sigs" -> targetFileBytes))

  /** The staging prefix of [[compactThrough]] — the crash-injection
    * seam the mixed-prefix spec drives with
    * [[graft.sources.DirSwap.commitSwaps]]
    * ([[graft.sources.StandingStore.stageCompactThrough]]). */
  private[graft] def stageCompactThrough(spark: SparkSession,
      path: String, throughBatch: Long): Unit = {
    val s = store(path)
    s.withLease(spark) { s.stageCompactThrough(spark, throughBatch); () }
  }

  /** Compact everything — run only once the fold stream settled. */
  def compact(spark: SparkSession, path: String): Unit =
    compactThrough(spark, path, Long.MaxValue)

  /** Fold partitions currently standing (listing only). */
  def foldCount(spark: SparkSession, path: String): Int =
    store(path).foldCount(spark)

  /** The in-loop cadence: compact settled folds once `maxFolds` of
    * them have accumulated ([[ClusterIndex.maintainThrough]]
    * discipline). Returns true iff it compacted. */
  def maintainThrough(spark: SparkSession, path: String, maxFolds: Int,
      throughBatch: Long): Boolean =
    store(path).maintainThrough(spark, maxFolds, throughBatch)()

  /** Retire the table. */
  def delete(spark: SparkSession, path: String): Unit =
    store(path).delete(spark)
}
