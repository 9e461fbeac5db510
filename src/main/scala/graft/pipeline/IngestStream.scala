package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.dedup.Dedup
import graft.streaming.EventTimeOps

/**
 * The composed streaming INGEST STACK — what a production corpus
 * actually runs on every arriving micro-batch, in one
 * [[graft.streaming.EventTimeOps.persistedBatches]] body:
 *
 *   1. constraint verdicts ([[DqGate]]: nulls/domains/uniqueness),
 *   2. distribution drift vs the standing corpus ([[DriftGate]] TVD),
 *   3. near-dup probe against the standing corpus band index
 *      (`Dedup.probeNearDupIndex` — the q_pipeline_ingest funnel's
 *      fuzzy stage),
 *
 * and hands the caller one [[BatchReport]] plus the batch to route
 * (ingest / quarantine / partial-accept is the caller's policy — the
 * stack's job is that every batch leaves a verdict trail).
 *
 * Standing structures (corpus token profile, corpus signature index)
 * are built and persisted ONCE, outside the per-batch path, and
 * released together via the returned handle when the corpus snapshot
 * is superseded — the same contract as the dedup/drift gates they
 * compose. Per batch the stack pays: one constraint aggregation, one
 * batch-vocabulary aggregation + vocabulary join, one banded index
 * probe — every shuffle carries aggregates, band keys, or vocabulary
 * rows, never the documents themselves.
 */
object IngestStream {

  /** Everything the router needs to decide a batch's fate.
    * `embedDupMatches` stays 0 when the stack runs without an
    * [[EmbedGate]]. `gateSeconds` is per-gate wall-clock observability
    * (dq / drift / text / embed, in stack order) — the number an
    * operator watches to see which gate a slow batch is paying, and
    * what the 10× smoke prints per batch. */
  final case class BatchReport(
      batchId: Long,
      rows: Long,
      dq: Seq[DqGate.Verdict],
      drift: Double,
      nearDupMatches: Long,
      embedDupMatches: Long = 0L,
      gateSeconds: Seq[(String, Double)] = Nil) {
    def dqPass: Boolean = dq.forall(_.pass)
  }

  /** Embedding-side near-dup gate: when the feed carries an embedding
    * column, each batch also probes the corpus's standing banded-LSH
    * index — the increasingly-default production gate for semantic
    * duplicates that share no shingles. `threshold` is the
    * exact-cosine floor for a match. With `atRestPath` unset the gate
    * builds and probes the session-RAM `Similarity.corpusEmbedIndex`
    * (hashing every corpus embedding once per SESSION); set it to a
    * [[graft.ann.EmbedIndex]] root and the gate probes the AT-REST
    * table instead — bounded point reads, nothing re-hashed on
    * restart, and (bands, planesPerBand, dims) are validated against
    * the table's persisted LSH family at build time. */
  final case class EmbedGate(vecCol: String, bands: Int, planesPerBand: Int,
      dims: Int, threshold: Double, atRestPath: Option[String] = None)

  /**
   * @param rules     row-level dq rules over the batch's columns
   * @param idCol     document id column (uniqueness + probe identity)
   * @param textCol   document text column (drift + near-dup probe)
   * @param threshold exact-Jaccard floor for a near-dup match
   * @param embed     optional embedding-side gate: when set, `docs`
   *                  and `corpus` must also carry `embed.vecCol` and
   *                  each batch probes the standing embedding index
   *                  too ([[BatchReport.embedDupMatches]])
   * @param cappedDriftK when set, the drift gate runs against a
   *                  [[DriftGate.cappedProfile]] of this head size
   *                  instead of the full vocabulary profile — the
   *                  100 TB form: standing state K+1 rows, per-batch
   *                  join K+1-sized, and the reported distance
   *                  lower-bounds the true TVD (a capped alarm is
   *                  always a true alarm)
   * @param sketchSelectedHead with `cappedDriftK`, build the standing
   *                  profile via [[DriftGate.sketchProfile]] (Count-Min
   *                  head selection — no vocabulary-sized aggregation
   *                  even at profile-build time) instead of
   *                  [[DriftGate.cappedProfile]]'s exact top-K; the
   *                  resulting profile is identical on any corpus
   *                  where ε·N clears the rank-K count (DriftGateSpec),
   *                  so this is purely the build-cost dial
   * @return (stream writer, release handle for ALL standing
   *         structures)
   */
  def gated(docs: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, rules: Seq[DqGate.Rule], threshold: Double,
      embed: Option[EmbedGate] = None, cappedDriftK: Option[Int] = None,
      sketchSelectedHead: Boolean = false,
      instructions: Option[org.apache.spark.sql.Column] = None)(
      route: (DataFrame, BatchReport) => Unit)
      : (DataStreamWriter[Row], () => Unit) = {
    // every rule-name problem must surface at BUILD time, not as a
    // require failure inside the first micro-batch (which would kill
    // the stream and leak the standing structures): caller duplicates
    // and a collision with the injected uniqueness rule's name both
    // validate here
    val uniqueName = s"${idCol}_unique"
    val names = rules.map(_.name)
    require(names.distinct.size == names.size,
      s"duplicate rule names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    require(!names.contains(uniqueName),
      s"rule name '$uniqueName' is reserved for the injected uniqueness rule")
    // a missing embedding column must fail HERE, not inside the first
    // micro-batch (same build-time contract as the rule names); an
    // at-rest gate validates its LSH family against the table's
    // persisted params the same way — probing with foreign planes
    // would hash into garbage silently
    embed.foreach { e =>
      require(docs.schema.fieldNames.contains(e.vecCol),
        s"embed gate needs column '${e.vecCol}' on the feed")
      e.atRestPath match {
        case None =>
          require(corpus.columns.contains(e.vecCol),
            s"embed gate needs column '${e.vecCol}' on the corpus")
        case Some(p) =>
          val params = graft.ann.EmbedIndex.readParams(docs.sparkSession, p)
          require(params ==
            graft.ann.EmbedIndex.Params(e.bands, e.planesPerBand, e.dims),
            s"embed gate family (${e.bands},${e.planesPerBand},${e.dims}) " +
              s"does not match the at-rest table's $params at $p")
      }
    }
    require(!sketchSelectedHead || cappedDriftK.isDefined,
      "sketchSelectedHead is a cappedDriftK build strategy; set cappedDriftK")
    val (profile, releaseProfile) = cappedDriftK match {
      case Some(k) if sketchSelectedHead =>
        DriftGate.sketchProfile(corpus, textCol, k)
      case Some(k) => DriftGate.cappedProfile(corpus, textCol, k)
      case None => DriftGate.corpusProfile(corpus, textCol)
    }
    val measureDrift: DataFrame => Double = cappedDriftK match {
      case Some(_) => b => DriftGate.cappedTvd(profile, b, textCol)
      case None => b => DriftGate.tvd(profile, b, textCol)
    }
    val (index, releaseIndex) = Dedup.corpusNearDupIndex(corpus, idCol, textCol)
    val embedIdx = embed.filter(_.atRestPath.isEmpty).map { e =>
      graft.ann.Similarity.corpusEmbedIndex(corpus, idCol, e.vecCol,
        e.bands, e.planesPerBand, e.dims)
    }
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val writer = EventTimeOps.persistedBatches(docs) { (batch, batchId) =>
      // INSTRUCTION rows (a delete-tagged feed's flagged rows —
      // NULL reads as not-an-instruction) bypass every gate:
      // dq/drift/text/embed measure the DOCUMENT rows only, and
      // the routed batch arrives whole for an instruction-aware
      // router (acceptIntoCorpusIndexedWithDeletes). This is the
      // stream-level split that router's contract requires — a
      // caller cannot split below this micro-batch shell.
      val docRows = instructions
        .fold(batch)(i => batch.where(!coalesce(i, lit(false))))
      // an all-instructions batch has no document distribution to
      // measure — drift over zero rows is degenerate, not drifted
      lazy val noDocs = instructions.isDefined && docRows.isEmpty
      val (dq, sDq) = timed(DqGate.collectVerdicts(docRows, rules,
        uniqueKey = Some((uniqueName, idCol))))
      val (drift, sDrift) = timed(
        if (noDocs) 0.0 else measureDrift(docRows))
      val (nDup, sText) = timed {
        val (matches, releaseBatch) = Dedup.probeNearDupIndex(
          docRows, index, idCol, textCol, threshold)
        try matches.count() finally releaseBatch()
      }
      val (nEmb, sEmb) = timed(embed.map { e =>
        e.atRestPath match {
          case Some(p) =>
            // reader-first recovery: the gate reads the table
            // before any fold's own preamble would heal a
            // crashed compaction swap (defers to a LIVE leased
            // maintainer's in-flight swap — DirSwap.recover)
            graft.ann.EmbedIndex.recoverSwap(batch.sparkSession, p)
            graft.ann.EmbedIndex.probe(docRows, p, idCol, e.vecCol,
              e.threshold).count()
          case None =>
            graft.ann.Similarity.probeEmbedIndex(docRows,
              embedIdx.get._1, idCol, e.vecCol, e.bands,
              e.planesPerBand, e.dims, e.threshold).count()
        }
      }.getOrElse(0L))
      val gates = Seq("dq" -> sDq, "drift" -> sDrift, "text" -> sText) ++
        (if (embed.isDefined) Seq("embed" -> sEmb) else Nil)
      route(batch, BatchReport(batchId, batch.count(), dq, drift, nDup,
        nEmb, gates))
    }
    (writer, () => {
      releaseProfile(); releaseIndex(); embedIdx.foreach(_._2()); ()
    })
  }

  /**
   * Turnkey accept router — [[quarantine]]'s other half, closing the
   * stream → standing-corpus → release loop: fold a passing batch
   * into the standing [[CuratedCorpus]] at `corpusPath`. The fold is
   * keyed by the stream's own micro-batch id, so at-least-once
   * redelivery re-lands the batch's own partitions (CuratedCorpus's
   * replay contract) instead of duplicating rows. The batch must
   * carry the curation columns (`doc_id, source, lang, text`) and its
   * doc ids must exceed all earlier ones (the monotone-id fold
   * contract) — curation itself (quality rules, exact-dedup probe,
   * train split) runs inside the fold, so the gates decide the
   * batch's FATE and the fold decides each document's.
   *
   * `maintainEvery` is the steady-state dial: after the fold, compact
   * once the table holds that many fold partitions
   * ([[CuratedCorpus.maintain]]) — safe mid-stream because a replayed
   * compacted batch dedups to zero against the base hash partition,
   * so the router stays idempotent across the compaction boundary.
   *
   * A lease refusal inside the maintenance cadence — an ad-hoc
   * maintainer holding the root — SKIPS the tick instead of killing
   * the stream ([[graft.sources.Lease.cadence]]): the fold itself is
   * unleased and unconditional, so no batch is ever lost, and the
   * cadence retries next batch; the refusal surfaces through
   * `onMaintenanceSkipped`.
   *
   * @return true iff the maintenance cadence compacted (always false
   *         without `maintainEvery`) — the exact signal an operator's
   *         metrics (and the 10× loop smoke) record, instead of
   *         inferring a compaction from fold counts, which a batch
   *         that dedups to zero would mimic
   */
  def acceptIntoCorpus(batch: DataFrame, report: BatchReport,
      corpusPath: String, maintainEvery: Option[Int] = None,
      onMaintenanceSkipped: String => Unit = _ => ()): Boolean = {
    CuratedCorpus.foldBatch(corpusPath, batch, report.batchId)
    maintainEvery.exists(d =>
      graft.sources.Lease.cadenceOrSkip(onMaintenanceSkipped)(
        CuratedCorpus.maintain(batch.sparkSession, corpusPath, d)))
  }

  /**
   * The FULLY-INDEXED accept router — [[acceptIntoCorpus]] plus the
   * sibling standing indexes, kept in LOCKSTEP with the corpus: fold
   * the passing batch into the curated table, then index EXACTLY the
   * landed TRAIN survivors — their minhash signatures into the
   * at-rest [[graft.dedup.SignatureIndex]] and their near-dup cluster
   * labels into the [[graft.dedup.ClusterIndex]] (edges =
   * within-survivor banded pairs + probes of the at-rest signatures,
   * text-verified against the standing corpus). Documents curation
   * drops never enter any index, so every index answers for the
   * curated corpus and nothing else.
   *
   * Replay: the fold re-derives the same survivors (CuratedCorpus's
   * contract), so the downstream folds — keyed by the same batch
   * id — overwrite their own partitions; a replayed
   * ALREADY-COMPACTED batch's survivors are empty and the empty
   * overwrites touch nothing. The probe seeing the batch's own
   * prior signatures on replay only adds self/within-batch edges,
   * which resolve to the same labels. Bootstrap: the three tables
   * must exist (init / [[graft.dedup.SignatureIndex.write]] /
   * [[graft.dedup.ClusterIndex.write]] over the curated snapshot —
   * the per-snapshot builds).
   *
   * `maintainEvery` drives all the cadences: corpus compaction
   * (replay-safe mid-stream) and the indexes' settled-only
   * `maintainThrough(batchId − 1)`. Each cadence tolerates a lease
   * refusal independently ([[acceptIntoCorpus]]'s skip policy — the
   * roots have separate leases, and an ad-hoc maintainer on one must
   * not stall the others' cadences or the stream).
   *
   * `embed = Some((embedPath, vecCol))` adds the EMBEDDING lane: the
   * survivors' vectors (joined back from the batch by doc_id — the
   * curated fold keeps text columns only) fold into the at-rest
   * [[graft.ann.EmbedIndex]] in the same id lockstep, on the same
   * cadence, so an embed-gated loop restarts by OPENING the table
   * instead of re-hashing the corpus ([[EmbedGate.atRestPath]] is the
   * probe side of the same arc). The batch must then carry `vecCol`.
   *
   * @return true iff any maintenance cadence compacted
   */
  def acceptIntoCorpusIndexed(batch: DataFrame, report: BatchReport,
      corpusPath: String, sigPath: String, clusterPath: String,
      threshold: Double, maintainEvery: Option[Int] = None,
      onMaintenanceSkipped: String => Unit = _ => (),
      embed: Option[(String, String)] = None): Boolean =
    acceptIndexed(batch, report, corpusPath, sigPath, clusterPath,
      threshold, maintainEvery, onMaintenanceSkipped, embed,
      excludeHashes = None)

  /** [[acceptIntoCorpusIndexed]]'s body, plus the fold's
    * content-hash exclusion seam the delete-tagged router feeds
    * ([[CuratedCorpus.standingContentHashes]] — the CDC-upsert
    * carve-out). Not public: an exclusion only makes sense paired
    * with the delete leg that retracts the excluded content. */
  private def acceptIndexed(batch: DataFrame, report: BatchReport,
      corpusPath: String, sigPath: String, clusterPath: String,
      threshold: Double, maintainEvery: Option[Int],
      onMaintenanceSkipped: String => Unit,
      embed: Option[(String, String)],
      excludeHashes: Option[DataFrame]): Boolean = {
    import graft.dedup.{ClusterIndex, SignatureIndex}
    val spark = batch.sparkSession
    // the signature root is READ below before its own fold's recovery
    // would run — heal a crashed compaction swap first, or a restart
    // into the swap window fails on the missing live dir forever
    // (the corpus and cluster roots recover inside their folds)
    SignatureIndex.recoverSwap(spark, sigPath)
    val survivors = CuratedCorpus.foldBatchReturning(
      corpusPath, batch, report.batchId, excludeHashes)
    val (sig, releaseSig) = Dedup.batchSignatures(survivors, "doc_id", "text")
    try {
      val within = Dedup.pairsFromSignatures(sig, "batch_id", "sh_batch",
          threshold)
        .select(col("doc_a"), col("doc_b"))
      val cross = SignatureIndex.probe(sig, sigPath,
          CuratedCorpus.open(spark, corpusPath), "doc_id", "text", threshold)
        .select(col("batch_id").as("doc_a"), col("corpus_id").as("doc_b"))
      ClusterIndex.foldBatch(clusterPath, survivors, "doc_id",
        within.unionByName(cross), "doc_a", "doc_b", report.batchId)
      // the probe's signatures ARE the fold's rows — land them
      // without re-signing the survivors
      SignatureIndex.foldBatchSigned(sigPath,
        sig.select(col("batch_id").as("doc_id"), col("sig")),
        report.batchId)
      // embed lane: exactly the landed survivors' vectors, joined
      // back from the batch (the curated fold carries text columns
      // only) — same id lockstep, same batch-keyed replay contract
      embed.foreach { case (embedPath, vecCol) =>
        graft.ann.EmbedIndex.foldBatch(embedPath,
          batch.join(survivors.select("doc_id"), Seq("doc_id"),
            "left_semi").select(col("doc_id"), col(vecCol)),
          "doc_id", vecCol, report.batchId)
      }
    } finally releaseSig()
    maintainAll(spark, corpusPath, sigPath, clusterPath,
      embed.map(_._1), maintainEvery, onMaintenanceSkipped,
      report.batchId)
  }

  /** The indexed routers' shared maintenance pass — each root's
    * cadence, each tolerating a lease refusal independently
    * ([[graft.sources.Lease.cadenceOrSkip]]). Split from the fold so
    * the delete-tagged router can order it AFTER its retraction legs:
    * a compaction collapsing the just-landed fold BEFORE the batch's
    * own deletes landed would, on a delete-leg failure + redelivery,
    * let the upsert carve-out re-land a re-add beside its
    * already-collapsed copy — the fold partition must stay replayable
    * until the whole batch (deletes included) has applied. */
  private def maintainAll(spark: org.apache.spark.sql.SparkSession,
      corpusPath: String, sigPath: String, clusterPath: String,
      embedPath: Option[String], maintainEvery: Option[Int],
      onMaintenanceSkipped: String => Unit, batchId: Long): Boolean = {
    import graft.dedup.{ClusterIndex, SignatureIndex}
    def skip(body: => Boolean): Boolean =
      graft.sources.Lease.cadenceOrSkip(onMaintenanceSkipped)(body)
    val compactedCorpus = maintainEvery.exists(d =>
      skip(CuratedCorpus.maintain(spark, corpusPath, d)))
    val compactedSig = maintainEvery.exists(d =>
      skip(SignatureIndex.maintainThrough(spark, sigPath, d,
        batchId - 1)))
    val compactedCluster = maintainEvery.exists(d =>
      skip(ClusterIndex.maintainThrough(spark, clusterPath, d,
        batchId - 1)))
    val compactedEmbed = embedPath.exists { p =>
      maintainEvery.exists(d => skip(
        graft.ann.EmbedIndex.maintainThrough(spark, p, d, batchId - 1)))
    }
    compactedCorpus | compactedSig | compactedCluster | compactedEmbed
  }

  /**
   * [[acceptIntoCorpusIndexed]] for a feed that carries DELETE
   * requests alongside new documents — the CDC-sink shape of the
   * curated corpus: rows where `deleteCol` is true name standing
   * documents to retract (by doc_id, like everything this router
   * keys); the rest fold as usual. ONE clock: both verbs ride the
   * stream's own batch id, so the retraction's causal bound holds by
   * construction — the fold lands first, making `report.batchId` the
   * newest standing fold. Under the repo-wide monotone-id contract a
   * delete names an OLDER id than any same-batch addition, and
   * deletes of never-standing or already-retracted ids are no-ops
   * (the anti-join misses), so an at-least-once redelivery replays
   * both halves idempotently (a replayed batch is the newest
   * processed one, so its tombstone date still clears the standing
   * folds — the same checkpointed-stream argument as [[retractDocs]]).
   * The CDC-UPSERT shape — one batch deletes a doc and re-adds
   * byte-identical content under a new id — lands the re-add: the
   * delete targets' standing content hashes are carved out of the
   * fold's suppression probe
   * ([[CuratedCorpus.standingContentHashes]]), so the retained-hash
   * contract suppresses RESUBMISSIONS of deleted content, never the
   * replacement travelling with its own delete.
   * Delete rows never enter the CORPUS or an INDEX — they are
   * instructions, not documents. A caller composing this router with
   * [[gated]] passes the same flag as the stack's `instructions`
   * column, so dq/drift/near-dup measure the DOCUMENT rows only (an
   * instruction row carrying null text would otherwise flip a
   * not-null rule and skew the drift TVD) while the routed batch
   * arrives whole for this router to split. NULL delete flags read as
   * "not a delete".
   *
   * Lease refusals: the MAINTENANCE cadences — ordered strictly
   * AFTER the retraction legs, so a compaction never collapses a
   * fold whose own deletes have not applied ([[maintainAll]]) — skip
   * and retry next batch as always ([[acceptIntoCorpusIndexed]]'s
   * policy), but a refusal inside the RETRACTION legs fails the
   * batch LOUDLY — deliberately not `cadenceOrSkip`, because a
   * delete must never be silently skipped. The failed batch is redelivered (at-least-once),
   * and the partial application it may leave behind is exactly the
   * torn state [[retractDocs]] documents: fsck tells, the redelivery
   * heals every leg idempotently — pinned in IngestStreamSpec's
   * held-root case.
   *
   * @return true iff any maintenance cadence compacted
   */
  def acceptIntoCorpusIndexedWithDeletes(batch: DataFrame,
      report: BatchReport, deleteCol: String, corpusPath: String,
      sigPath: String, clusterPath: String, threshold: Double,
      maintainEvery: Option[Int] = None,
      onMaintenanceSkipped: String => Unit = _ => (),
      embed: Option[(String, String)] = None): Boolean = {
    val spark = batch.sparkSession
    // NULL flags read as "not a delete" (the common sink shape stamps
    // TRUE on deletes only) — under raw three-valued logic a NULL row
    // would silently vanish from BOTH halves
    val flag = coalesce(col(deleteCol), lit(false))
    val adds = batch.where(!flag).drop(deleteCol)
    val dels = batch.where(flag).select("doc_id")
    // both halves' emptiness in ONE driver-blocking job (not an
    // isEmpty per half — two extra batch scans before the fold even
    // starts, in a path that runs per micro-batch)
    val halves = batch.agg(
      count(when(flag, lit(1))).as("dels"),
      count(when(!flag, lit(1))).as("adds")).head()
    val hasDels = halves.getLong(0) > 0L
    val hasAdds = halves.getLong(1) > 0L
    // CDC-UPSERT carve-out: the adds fold FIRST (the causal clock),
    // so a batch that deletes a doc and re-adds byte-identical
    // content would have the doomed copy's retained hash suppress the
    // re-add — and the delete then retracts the only standing copy, a
    // permanent loss. Exclude the delete targets' standing content
    // hashes from the fold's suppression probe; the exclusion
    // re-derives identically on a redelivery (raw read —
    // [[CuratedCorpus.standingContentHashes]] argues the replay
    // windows). Heal a crashed corpus-compaction swap FIRST
    // (reader-first [[CuratedCorpus.recoverSwap]], defers to a live
    // leased owner): the exclusion frame reads $corpusPath/docs
    // eagerly here, BEFORE the fold's own recovery preamble runs, so
    // a restart that replays a delete-carrying batch into the swap's
    // crashed mid-rename window (live dir missing) would otherwise
    // throw on every redelivery — the same wedge [[acceptIndexed]]
    // heals for the signature root.
    val excl = if (hasDels) {
      CuratedCorpus.recoverSwap(spark, corpusPath)
      Some(CuratedCorpus.standingContentHashes(spark, corpusPath,
        dels, "doc_id"))
    } else None
    // a pure-delete batch (a GDPR erasure sweep) skips the whole
    // index-fold job chain — an empty fold overwrites nothing, so
    // skipping it is replay-identical. MAINTENANCE runs strictly
    // AFTER the retraction legs ([[maintainAll]]'s ordering
    // rationale): a compaction collapsing this batch's fold before
    // its own deletes landed would, on a delete-leg failure +
    // redelivery, re-land the upsert carve-out's re-add beside its
    // already-collapsed copy — the fold must stay replayable until
    // the whole batch applied. A delete-leg failure therefore also
    // defers the tick to the redelivery, which is the point.
    if (hasAdds)
      acceptIndexed(adds, report, corpusPath,
        sigPath, clusterPath, threshold, None,
        onMaintenanceSkipped, embed, excl)
    if (hasDels)
      retractDocs(spark, dels, "doc_id", report.batchId, corpusPath,
        sigPath, clusterPath, embed.map(_._1))
    maintainAll(spark, corpusPath, sigPath, clusterPath,
      embed.map(_._1), maintainEvery, onMaintenanceSkipped,
      report.batchId)
  }

  /**
   * The composed RETRACTION — [[acceptIntoCorpusIndexed]]'s inverse,
   * keeping the same id-lockstep: land the ids' tombstones at the
   * corpus root and every sibling index root, so all four structures
   * stop answering for the documents at once. Each leg is an O(ids)
   * tombstone write ([[CuratedCorpus.retract]] /
   * [[graft.dedup.SignatureIndex.retract]] /
   * [[graft.dedup.ClusterIndex.retract]] /
   * [[graft.ann.EmbedIndex.retract]]) — no data table is rewritten;
   * reads filter immediately and each root's own compaction cadence
   * purges physically.
   *
   * Order: corpus FIRST. A crash after the corpus leg leaves indexes
   * over-answering — benign, because every probe's verify leg joins a
   * corpus-filtered read (candidates for a retracted id vanish at
   * verify), and [[Fsck.check]] reports the torn state as `id-drift`
   * until the redelivery heals it (each leg is replay-idempotent).
   * The REVERSE tear — indexes silenced while the doc still stands —
   * would let a near-duplicate of a still-standing document through
   * the gates, so that order is wrong; do not flip it.
   *
   * Retraction semantics at the gate: the corpus's content HASH is
   * retained (exact resubmission stays suppressed —
   * [[CuratedCorpus.retract]]), but a NEAR-duplicate of retracted
   * content re-enters, which is what deletion means.
   *
   * `batchId` rides the shared fold clock (in-loop: the stream's
   * batch id; ad-hoc: the corpus [[CuratedCorpus.batchWatermark]]).
   */
  def retractDocs(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, idCol: String, batchId: Long, corpusPath: String,
      sigPath: String, clusterPath: String,
      embedPath: Option[String] = None): Unit = {
    // pin the id set ONCE before the first leg: `ids` is commonly
    // derived from the corpus's own filtered read, and the corpus
    // leg's tombstone write would change what that plan evaluates to
    // on the later legs (filter it — a redelivery after a torn run
    // would heal NOTHING because the healed corpus yields an empty id
    // set — or invalidate its pinned file listing mid-verb). The four
    // legs must delete ONE consistent set, evaluated ONCE. The
    // narrowing is the GUARDED one (Retractions.losslessLongId) — a
    // plain cast here would truncate a fractional id into the wrong
    // document before any leg's own guard could refuse it.
    val pinned = ids
      .select(graft.sources.Retractions.losslessLongId(ids, idCol)
        .as(idCol))
      .distinct().localCheckpoint(true)
    try {
      CuratedCorpus.retract(spark, corpusPath, pinned, idCol, batchId)
      graft.dedup.SignatureIndex.retract(spark, sigPath, pinned, idCol,
        batchId)
      graft.dedup.ClusterIndex.retract(spark, clusterPath, pinned, idCol,
        batchId)
      embedPath.foreach(p =>
        graft.ann.EmbedIndex.retract(spark, p, pinned, idCol, batchId))
    } finally {
      pinned.unpersist()
      ()
    }
  }

  /** [[acceptIntoCorpusIndexed]]'s PER-SNAPSHOT bootstrap, as one
    * callable verb: given an initialized [[CuratedCorpus]], build the
    * sibling signature and cluster tables over exactly its curated
    * documents (the rare whole-corpus pass the per-batch folds then
    * amortize away). The resolve's signature cache is released before
    * returning — a bootstrap must not leave a corpus-sized frame
    * pinned in block storage for the loop that follows. */
  def bootstrapIndexes(spark: org.apache.spark.sql.SparkSession,
      corpusPath: String, sigPath: String, clusterPath: String,
      threshold: Double): Unit = {
    import graft.dedup.{ClusterIndex, Clusters, SignatureIndex}
    val curated = CuratedCorpus.open(spark, corpusPath)
    SignatureIndex.write(curated, "doc_id", "text", sigPath)
    val (pairs, release) = Dedup.nearDupPairsManaged(
      curated, "doc_id", "text", threshold)
    try ClusterIndex.write(
      Clusters.resolve(curated, "doc_id",
        pairs.select("doc_a", "doc_b"), "doc_a", "doc_b")
        .select("doc_id", "cluster"), clusterPath)
    finally release()
  }

  /** One consistent cross-root read — [[lockstepView]]'s result: the
    * shared fold watermark the legs are pinned to, and each standing
    * structure opened AS OF it. Every leg answers for exactly the
    * curated documents folded through `watermark` (minus standing
    * retractions), whatever the live loop is doing to the roots. */
  final case class LockstepView(watermark: Long, docs: DataFrame,
      signatures: DataFrame, clusters: DataFrame,
      vectors: Option[DataFrame])

  /**
   * A CONSISTENT snapshot read across the composed loop's standing
   * roots — the read-side twin of [[acceptIntoCorpusIndexed]]'s
   * id-lockstep write contract. A consumer opening the four tables
   * independently while the loop runs can catch a batch BETWEEN two
   * of its folds (the corpus answering for documents the indexes have
   * not indexed yet — the router folds corpus → clusters → signatures
   * → embeddings in sequence); a release cut, an audit, or a training
   * mount must not see that tear. This verb pins all legs to ONE fold
   * watermark instead:
   *
   *  - `w` = the MIN of the roots' persisted-marker-backed
   *    [[graft.sources.StandingStore.batchWatermark]]s — the newest
   *    batch every root has folded;
   *  - each leg opens AS OF `w` (`openAt`: base + folds ≤ w, a
   *    partition filter — excluded folds' files are never read);
   *    batches the roots' compactions collapsed are always ≤ `w`,
   *    because the router collapses a batch only after every sibling
   *    folded it (openAt's collapse-floor guard enforces it);
   *  - retractions: each leg filters its OWN standing tombstones
   *    (openAt), and the CORPUS's standing tombstones mask the three
   *    index legs too — a [[retractDocs]] torn after its corpus-first
   *    leg (the at-least-once window fsck reports as id-drift) would
   *    otherwise leave the indexes answering for ids the corpus view
   *    already dropped. One bounded broadcast side, listing-guarded:
   *    with no corpus tombstones standing the masks are no-ops.
   *
   * The view is a set of PLANS over the dirs as listed now — the
   * consistency is of the id sets, not a filesystem freeze: a reader
   * racing a compaction's brief swap window can still fail and should
   * retry (the standing tables' documented reader caveat; a serving
   * deployment retains versions instead). A root that stops folding
   * (a torn batch that never heals) pins `w` — [[Fsck.check]]'s
   * fold-skew finding names it — and if a sibling's compaction then
   * collapses PAST the pinned `w`, the view fails LOUDLY on that
   * root's collapse floor (openAt's guard) rather than serving a
   * bound it cannot verify. The embedding leg answers for the view's
   * docs THAT CARRY vectors (null-vector docs are never indexed —
   * [[graft.ann.EmbedIndex]]'s contract), so its id set is a subset
   * exactly where vectors were absent.
   *
   * Reader-first recovery runs per root (deferring to a LIVE leased
   * maintainer — [[graft.sources.DirSwap.recover]]), so a view taken
   * right after a crash does not fail on a half-swapped root.
   */
  def lockstepView(spark: org.apache.spark.sql.SparkSession,
      corpusPath: String, sigPath: String, clusterPath: String,
      embedPath: Option[String] = None): LockstepView = {
    import graft.dedup.{ClusterIndex, SignatureIndex}
    CuratedCorpus.recoverSwap(spark, corpusPath)
    SignatureIndex.recoverSwap(spark, sigPath)
    graft.dedup.ClusterIndex.recoverSwap(spark, clusterPath)
    embedPath.foreach(graft.ann.EmbedIndex.recoverSwap(spark, _))
    val w = (Seq(
      CuratedCorpus.batchWatermark(spark, corpusPath),
      SignatureIndex.batchWatermark(spark, sigPath),
      ClusterIndex.batchWatermark(spark, clusterPath)) ++
      embedPath.map(graft.ann.EmbedIndex.batchWatermark(spark, _))).min
    // the corpus's standing tombstones mask every index leg (the
    // torn-retraction window); listing-guarded no-op in steady state
    val tombs =
      if (graft.sources.Retractions.batchIds(spark, corpusPath).isEmpty) None
      else Some(graft.sources.Retractions.open(spark, corpusPath))
    def mask(df: DataFrame): DataFrame =
      tombs.fold(df)(t => graft.sources.Retractions.antiJoin(df, "doc_id", t))
    LockstepView(w,
      CuratedCorpus.openAt(spark, corpusPath, w),
      mask(SignatureIndex.openAt(spark, sigPath, w)),
      mask(ClusterIndex.openAt(spark, clusterPath, w)),
      embedPath.map(p => mask(graft.ann.EmbedIndex.openAt(spark, p, w))))
  }

  /**
   * Turnkey quarantine router: land a failing batch in
   * `quarantineDir` as parquet, stamped with the batch id and a
   * machine-readable reason, so triage reads one table instead of
   * logs. (batch id, reason) is the PARTITION key and the write is a
   * dynamic partition overwrite — the same replay discipline as every
   * standing fold here — so an at-least-once redelivery replaces
   * exactly its own `__batch_id=<id>/__reason=<r>/` partition instead
   * of appending a second copy, while a route that quarantines
   * DIFFERENT slices of one batch under different reasons (dq rows
   * here, drift rows there) keeps both: only an identical
   * (batch, reason) redelivery overwrites. The flip side is a HARD
   * CONTRACT: within one delivery of a batch, call this at most ONCE
   * per reason — a second same-(batch, reason) call is
   * indistinguishable from a redelivery at the storage layer and
   * REPLACES the first call's rows. A route that quarantines one
   * failing slice in chunks must union the chunks (or key each chunk
   * into its own reason) before calling; there is no storage-level
   * accumulate that would not also break replay single-copy. Keep
   * `reason` a short,
   * STABLE machine key — it is a directory name, and it is part of
   * the replay identity: a redelivery quarantined under a renamed
   * reason lands beside the stale partition instead of replacing it
   * (triage still reads single-copy — [[openQuarantine]]'s LWW — and
   * [[pruneQuarantine]] retires both), so rename rule keys between
   * runs, not mid-stream. Triage reads through
   * [[openQuarantine]] (LWW per document across batches); completed
   * triage retires batch partitions with [[pruneQuarantine]] —
   * without retention the quarantine is the one table in the loop
   * that grows forever.
   */
  def quarantine(batch: DataFrame, report: BatchReport, reason: String,
      quarantineDir: String): Unit = {
    // a batch re-read FROM a quarantine table already carries the
    // stamps; silently overwriting them would destroy the original
    // lineage triage keys on
    require(!batch.columns.contains("__batch_id") &&
      !batch.columns.contains("__reason"),
      "batch already carries quarantine stamps (__batch_id/__reason); " +
        "drop or rename them before re-quarantining")
    batch
      .withColumn("__batch_id", lit(report.batchId))
      .withColumn("__reason", lit(reason))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id", "__reason")
      .parquet(quarantineDir)
  }

  private def quarantineBatchIds(spark: org.apache.spark.sql.SparkSession,
      quarantineDir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(quarantineDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val Part = "^__batch_id=(-?\\d+)$".r
      fs.listStatus(p).toSeq.filter(_.isDirectory)
        .flatMap(_.getPath.getName match {
          case Part(n) => Some(n.toLong)
          case _ => None
        })
    }
  }

  /** The TRIAGE read of a quarantine table: one row per document —
    * a document quarantined by several batches (resubmitted content
    * failing again) surfaces once, under its LATEST batch's stamp
    * (last-write-wins on `idCol` by `__batch_id`, ties broken by the
    * first `__reason` in sort order so a doc in two of one batch's
    * slices reads back DETERMINISTICALLY). Within-(batch, reason)
    * redelivery is already single-copy at the storage layer
    * ([[quarantine]]'s partition overwrite). The stamps read back as
    * LONG / STRING regardless of what partition-directory inference
    * guessed (a reason of "404" must not come back as an int). A
    * missing or fully-drained quarantine reads back as the EMPTY
    * zero-column frame (there is no schema to synthesize without
    * data) — check `isEmpty` before selecting columns. The schema
    * comes from one footer ([[graft.Tables.readParquet]]): no job. */
  def openQuarantine(spark: org.apache.spark.sql.SparkSession,
      quarantineDir: String, idCol: String): DataFrame =
    if (quarantineBatchIds(spark, quarantineDir).isEmpty)
      spark.emptyDataFrame
    else {
      val all = graft.Tables.readParquet(spark, quarantineDir)
        .withColumn("__batch_id", col("__batch_id").cast("long"))
        .withColumn("__reason", col("__reason").cast("string"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol))
        .orderBy(col("__batch_id").desc, col("__reason").asc)
      all.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }

  /** Quarantine retention — the [[graft.pipeline.Release]] keep/prune
    * discipline on the triage table: drop every `__batch_id=<b>`
    * partition with `b <= throughBatch` (the caller's
    * triage-completed watermark); a prune that drains the LAST
    * partition retires the directory itself, so the table's absent
    * and drained states read identically ([[openQuarantine]]'s empty
    * contract). Listing-only (no data read), so the verb costs
    * O(partitions) at any scale. Returns the batch ids pruned. */
  def pruneQuarantine(spark: org.apache.spark.sql.SparkSession,
      quarantineDir: String, throughBatch: Long): Seq[Long] = {
    val fs = new org.apache.hadoop.fs.Path(quarantineDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pruned = quarantineBatchIds(spark, quarantineDir)
      .filter(_ <= throughBatch)
      .sorted
      .map { b =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$quarantineDir/__batch_id=$b"), true)
        b
      }
    if (pruned.nonEmpty && quarantineBatchIds(spark, quarantineDir).isEmpty)
      fs.delete(new org.apache.hadoop.fs.Path(quarantineDir), true)
    pruned
  }
}
