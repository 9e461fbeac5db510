package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/**
 * Streaming distribution-drift gate — the ingestion-time face of
 * `q_text_vocab_drift`: each arriving micro-batch's token distribution
 * is compared against the STANDING corpus profile and the batch is
 * routed with its total-variation distance, so a source shift (new
 * scraper, broken encoding, language flip) trips an alarm before the
 * batch poisons the mixture. Total variation (½·Σ|p−q|) because it is
 * pure arithmetic — a KL divergence's log would make the verdict
 * engine- and libm-dependent, the same reason the batch audit uses it.
 *
 * The corpus profile is aggregated and persisted ONCE ([[corpusProfile]],
 * same standing-index contract as the dedup corpus indexes: release it
 * when the corpus snapshot is superseded); per batch the gate pays one
 * token aggregation over the BATCH plus a vocabulary-sized join —
 * the shuffle carries the vocabularies, never the documents. The
 * per-batch step is [[tvd]] ([[cappedTvd]], [[embeddingDist]]); the
 * stream is `EventTimeOps.persistedBatches` around it, routing each
 * batch by its distance (typical: over threshold → quarantine + alert,
 * else ingest), or the composed `IngestStream.gated` stack.
 */
object DriftGate {

  /** Standing token-frequency profile of the corpus, persisted, with a
    * release handle. */
  def corpusProfile(corpus: DataFrame, textCol: String): (DataFrame, () => Unit) = {
    val freq = corpusFreq(corpus, textCol).persist()
    (freq, () => { freq.unpersist(); () })
  }

  /** Token that absorbs the folded tail mass of a CAPPED profile.
    * Contains spaces, which `TextAnalysis.tokens` (whitespace split)
    * can never emit — collision with a real token is impossible. */
  val OtherToken = "~ other ~"

  /**
   * Top-K CAPPED standing profile — the 100 TB form of
   * [[corpusProfile]]: a web corpus's token vocabulary is itself
   * corpus-sized, so a standing profile that carries every token is
   * not a summary. The K most frequent tokens (ties broken by token)
   * keep their counts; the tail folds into ONE [[OtherToken]] row, so
   * the standing state is exactly K+1 rows and every per-batch TVD
   * join is K+1-sized regardless of corpus scale.
   *
   * The capped TVD ([[cappedTvd]]) LOWER-bounds the true TVD: folding
   * is a coarsening, and each fold replaces a Σ|·| over its tokens
   * with |Σ·| ≤ Σ|·| (triangle inequality) — so a capped alarm is
   * always a true alarm, and the calibration query
   * (q_text_vocab_drift_capped) proves the bound on the fixture. The
   * head of a Zipfian distribution carries most of the mass, so the
   * gap is small in practice.
   *
   * Shape: one token aggregation (shuffle carries the vocabulary,
   * never documents), then the head via orderBy+limit — Spark plans
   * TakeOrderedAndProject, a per-partition PARTIAL top-K merged on the
   * driver from K·partitions candidate rows, so NOTHING ever sorts the
   * full vocabulary — plus one vocabulary-sized sum for the tail mass.
   * The head is K rows by contract, so collecting it is the point, not
   * a compromise. (q_text_heavy_hitters is the sketch-side audit of
   * the same head-selection idea when even the counts table is too
   * hot to aggregate exactly.)
   */
  def cappedProfile(corpus: DataFrame, textCol: String,
      topK: Int): (DataFrame, () => Unit) = {
    require(topK > 0, s"topK must be positive, got $topK")
    val spark = corpus.sparkSession
    import spark.implicits._
    val freq = corpusFreq(corpus, textCol)
    val head = freq.orderBy(col("n_corpus").desc, col("token")).limit(topK)
      .as[(String, Long)].collect()
    val total = freq.agg(coalesce(sum("n_corpus"), lit(0L))).head().getLong(0)
    val tail = total - head.map(_._2).sum
    val capped = (head.toSeq ++ (if (tail > 0) Seq((OtherToken, tail)) else Nil))
      .toDF("token", "n_corpus").persist()
    (capped, () => { capped.unpersist(); () })
  }

  /** [[sketchProfile]] CMS parameters: ε=1e-4 bounds any token's
    * overcount by N/10 000 total tokens (a few KB of counter grid);
    * candidate slack 4 gives the exact re-rank room to demote tail
    * tokens the overcount promoted. */
  val SketchEps = 1e-4
  val SketchConfidence = 0.99
  val SketchSeed = 42
  val SketchCandidateSlack = 4

  /**
   * [[cappedProfile]] with CMS-SELECTED head — for the corpus where
   * even the token-counts table is too hot to aggregate exactly
   * (cappedProfile's one vocabulary-sized groupBy is its only
   * vocabulary-sized step; this replaces it). Three bounded passes,
   * none shuffling the vocabulary:
   *
   *   1. ONE Count-Min sketch aggregation over the token stream —
   *      mergeable KB-sized counter grid, partial-aggregated per
   *      partition (counters sum, so merge order is immaterial);
   *   2. candidate generation: each partition probes the BROADCAST
   *      sketch for its locally-distinct tokens and emits only its
   *      local top-(slack·K) by global estimate — a token in the
   *      global estimate-top-M is in the local top-M of every
   *      partition that saw it, so the union (≤ partitions·slack·K
   *      rows, a bounded driver collect) provably contains the
   *      estimate-top-M;
   *   3. exact counts for the CANDIDATES ONLY (the shuffle carries
   *      ≤ slack·K tokens), exact re-rank, head = exact top-K.
   *
   * CMS never undercounts and overcounts by ≤ ε·N (the two facts
   * q_text_heavy_hitters audits), so a true head token is missed only
   * if > (slack−1)·K tail tokens are overcounted past it — with
   * ε·N below the rank-K count, impossible; DriftGateSpec pins
   * head-set equality with [[cappedProfile]] on the fixture. The tail
   * row's mass needs no pass of its own — the sketch already counted
   * the stream, so total comes from its `totalCount()` — and the
   * result is the same K+1-row profile, drop-in for [[cappedTvd]]
   * and the ingest stack.
   */
  def sketchProfile(corpus: DataFrame, textCol: String,
      topK: Int): (DataFrame, () => Unit) = {
    require(topK > 0, s"topK must be positive, got $topK")
    val spark = corpus.sparkSession
    import spark.implicits._
    // three actions share the tokenized corpus — persist it so the
    // documents are scanned and tokenized ONCE, not per action (this
    // function exists to CUT profile-build cost)
    val toks = corpus.select(explode(TextAnalysis.tokens(col(textCol)))
      .as("token")).persist()
    try {
      val skBytes = toks.agg(count_min_sketch(col("token"), lit(SketchEps),
          lit(SketchConfidence), lit(SketchSeed)).as("sk"))
        .head().getAs[Array[Byte]](0)
      val sk0 = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(skBytes))
      // the sketch already counted the stream — the tail row's total
      // needs no fourth pass
      val total = sk0.totalCount()
      val bc = spark.sparkContext.broadcast(skBytes)
      val candM = topK * SketchCandidateSlack
      val candidates = toks.as[String].mapPartitions { it =>
        val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(bc.value))
        // Per-partition memory is BOUNDED at slack·K entries — a
        // min-heap of the locally-best (estimate, token) pairs plus a
        // same-sized membership set — NOT the partition's distinct
        // vocabulary (this function exists precisely because that
        // vocabulary is too hot to materialize). The CMS estimate is a
        // pure function of the token, so heap membership doubles as
        // dedup: re-seeing a resident token is a no-op, re-seeing an
        // evicted one re-loses to the same comparison. The result is
        // exactly the local top-(slack·K) by (-estimate, token) that
        // the former sort-all-distinct produced.
        val worstFirst = new Ordering[(Long, String)] {
          def compare(a: (Long, String), b: (Long, String)): Int = {
            val c = java.lang.Long.compare(b._1, a._1) // lower estimate = worse
            if (c != 0) c else a._2.compareTo(b._2)    // larger token = worse
          }
        }
        val heap = scala.collection.mutable.PriorityQueue.empty(worstFirst)
        val inHeap = scala.collection.mutable.HashSet.empty[String]
        it.foreach { t =>
          if (!inHeap.contains(t)) {
            val e = sk.estimateCount(t)
            if (heap.size < candM) { heap.enqueue((e, t)); inHeap += t }
            else if (worstFirst.compare((e, t), heap.head) < 0) {
              inHeap -= heap.dequeue()._2
              heap.enqueue((e, t)); inHeap += t
            }
          }
        }
        heap.iterator.map { case (e, t) => (t, e) }
      }.collect()
        .groupBy(_._1).view.mapValues(_.head._2).toSeq
        .sortBy { case (t, e) => (-e, t) }.take(candM).map(_._1)
      val head = toks.filter(col("token").isInCollection(candidates))
        .groupBy("token").agg(count(lit(1)).as("n_corpus"))
        .as[(String, Long)].collect()
        .sortBy { case (t, n) => (-n, t) }.take(topK).toSeq
      val tail = total - head.map(_._2).sum
      val capped = (head ++ (if (tail > 0) Seq((OtherToken, tail)) else Nil))
        .toDF("token", "n_corpus").persist()
      (capped, () => { capped.unpersist(); bc.destroy(); () })
    } finally toks.unpersist()
  }

  /**
   * Total-variation distance between the corpus profile's token
   * distribution and `batch`'s. 0 = identical distributions, 1 =
   * disjoint vocabularies. An empty batch (no tokens) returns 0 —
   * no evidence is not drift; emptiness is the dq gate's finding.
   */
  def tvd(profile: DataFrame, batch: DataFrame, textCol: String): Double =
    tvdOfFreqs(profile, batchFreq(batch, textCol))

  /** [[tvd]] against a CAPPED profile: batch tokens outside the
    * profile's head fold into [[OtherToken]] (the profile's own fold),
    * then the same exact integer TVD. The join against the head is
    * K+1-sized — broadcastable at any corpus scale. */
  def cappedTvd(profile: DataFrame, batch: DataFrame, textCol: String): Double = {
    val head = profile.filter(col("token") =!= OtherToken)
      .select(col("token"), lit(true).as("__keep"))
    val folded = batchFreq(batch, textCol)
      .join(broadcast(head), Seq("token"), "left")
      .select(when(col("__keep"), col("token"))
        .otherwise(lit(OtherToken)).as("token"), col("n_batch"))
      .groupBy("token").agg(sum("n_batch").as("n_batch"))
    tvdOfFreqs(profile, folded)
  }

  private def corpusFreq(corpus: DataFrame, textCol: String): DataFrame =
    corpus
      .select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_corpus"))

  private def batchFreq(batch: DataFrame, textCol: String): DataFrame =
    batch
      .select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_batch"))

  private def tvdOfFreqs(profile: DataFrame, bf: DataFrame): Double = {
    val joined = profile.join(bf, Seq("token"), "full_outer")
      .select(coalesce(col("n_corpus"), lit(0L)).as("nc"),
        coalesce(col("n_batch"), lit(0L)).as("nb"))
      .persist()
    try {
      val totals = joined.agg(
        coalesce(sum("nc"), lit(0L)), coalesce(sum("nb"), lit(0L))).head()
      val (tc, tb) = (totals.getLong(0), totals.getLong(1))
      if (tb == 0L || tc == 0L) 0.0
      else {
        // Σ|nc/tc − nb/tb| summed as DOUBLES is last-ulp partial-sum-
        // order dependent, so "disjoint vocabularies ⇒ exactly 1"
        // would hold only for one partitioning. Sum the integer form
        // |nc·tb − nb·tc| in DECIMAL (exact, order-independent — the
        // repo's decimal-sum emission convention) and divide ONCE.
        val num = joined.agg(sum(abs(
            col("nc").cast("decimal(38,0)") * lit(tb) -
            col("nb").cast("decimal(38,0)") * lit(tc))).as("s"))
          .head().getDecimal(0)
        num.doubleValue() / (2.0 * tc.toDouble * tb.toDouble)
      }
    } finally { joined.unpersist(); () }
  }

  // ------------------------------------------------------- embeddings

  /** Standing per-dimension profile of the corpus embedding column:
    * (dim, n_corpus, s_corpus) with DECIMAL sums, persisted, with a
    * release handle — the vector-side twin of [[corpusProfile]]
    * (mirrors the batch audit q_ann_embedding_drift). */
  def embeddingProfile(corpus: DataFrame, vecCol: String): (DataFrame, () => Unit) = {
    val p = dimSums(corpus, vecCol, "n_corpus", "s_corpus").persist()
    (p, () => { p.unpersist(); () })
  }

  /**
   * Mean per-dimension displacement between the corpus profile and
   * `batch`: avg over the UNION of dims of |mean_corpus − mean_batch|.
   * A shifted encoder or a new source moves the batch centroid before
   * it degrades ANN recall — this is the alarm — and a DIMENSIONALITY
   * change is the loudest form of it: the dim join is full-outer and a
   * side with no values contributes mean 0, so a 32-dim batch against
   * a 768-dim profile alarms with the 736 missing dims' |mean_corpus|
   * instead of silently averaging the shared prefix. Either side
   * empty (no batch vectors, or a profile built from an empty corpus)
   * returns 0, as in [[tvd]].
   *
   * Determinism: per-dim diffs are doubles (deterministic per row),
   * rounded to 12 dp and summed in DECIMAL, so the cross-dim total is
   * independent of partial-sum order — the same convention the TVD
   * sum follows. One aggregation action per call.
   */
  def embeddingDist(profile: DataFrame, batch: DataFrame, vecCol: String): Double = {
    val joined = profile
      .join(dimSums(batch, vecCol, "n_batch", "s_batch"), Seq("dim"), "full_outer")
    def meanOf(n: String, s: String): Column =
      when(coalesce(col(n), lit(0L)) > 0,
        col(s).cast("double") / col(n)).otherwise(lit(0.0))
    val diff = round(abs(meanOf("n_corpus", "s_corpus") -
      meanOf("n_batch", "s_batch")), 12).cast("decimal(38,12)")
    // either side empty → 0, the tvd convention: no corpus profile is
    // no evidence of drift (bootstrap), and no batch vectors is the
    // dq gate's finding, not drift
    val r = joined.agg(
      coalesce(sum(coalesce(col("n_batch"), lit(0L))), lit(0L)).as("nb"),
      coalesce(sum(coalesce(col("n_corpus"), lit(0L))), lit(0L)).as("nc"),
      sum(diff).as("s"), count(lit(1)).as("d")).head()
    if (r.getLong(0) == 0L || r.getLong(1) == 0L || r.getLong(3) == 0L) 0.0
    else r.getDecimal(2).doubleValue() / r.getLong(3)
  }

  /** Per-dim (dim, non-null count, DECIMAL sum) of an embedding
    * column — the q_ann_embedding_drift aggregation shape: one narrow
    * posexplode, dims-row shuffle, map-side combined. The count is of
    * VALUES (count(v), not count(*)) so null elements can't bias a
    * dim's mean low or dilute the drift average. */
  private def dimSums(df: DataFrame, vecCol: String,
      nName: String, sName: String): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .select((col("__pos").cast("long") + 1).as("dim"),
        col("__v").cast("decimal(28,10)").as("v"))
      .groupBy("dim")
      .agg(count(col("v")).as(nName), sum(col("v")).as(sName))
}
