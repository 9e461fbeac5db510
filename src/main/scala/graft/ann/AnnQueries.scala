package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/**
 * Driver-contract queries for similarity search over the `embeddings`
 * table (64-dim float vectors), with DuckDB oracles that replicate the
 * exact fold order so doubles are bit-identical.
 */
object AnnQueries {

  val Dims = 64
  val NumQueryVecs = 8
  val TopK = 5
  val NearDupThreshold = 0.2
  val NearDupBands = 3
  val NearDupBandPlanes = 6
  val CentroidK = 8
  val NProbe = 2

  /** Full-corpus Lloyd refinement rounds of q_ann_ivf_trained. */
  val TrainRefineIters = 2

  /** vec_id % 10 bucket boundary splitting corpus (< boundary) from
    * batch in q_ann_embedding_drift AND q_dedup_incremental_embed
    * (shared with both oracles). */
  val EmbDriftBatchBucket = 8

  /** Within-cluster cosine floor of q_dedup_semantic (shared with its
    * oracle). Sits above the pair-recall floor [[NearDupThreshold]]:
    * semantic dedup DROPS data, so its bar is "near-identical within
    * the cluster", not "candidate worth verifying". */
  val SemanticThreshold = 0.3
  val ProjDims = 8
  /** Edges kept per vertex in the kNN graph (q_ann_knn_graph). */
  val KnnK = 3
  /** Projection planes sit above every bucketing plane in use (single
    * band ≤ 16, banded ≤ NearDupBands·NearDupBandPlanes = 18), so the
    * same LCG family serves both without correlation. */
  val ProjPlaneOffset = 64

  /** First-n vectors by id, as driver-side double arrays (the same
    * float→double cast the Spark-side VectorDot applies). Null
    * vectors are skipped — a corpus whose head rows lack embeddings
    * yields a smaller (possibly empty) seed set, and the downstream
    * centroid `require`s turn that into a clear refusal instead of a
    * driver-side NPE. */
  private def collectVecs(df: DataFrame, n: Int): Seq[(Long, Array[Double])] =
    df.filter(col("vec_id") < n && col("embedding").isNotNull)
      .orderBy("vec_id")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toSeq

  /** The first-max(NumQueryVecs, CentroidK) head vectors, collected
    * once per (session, sf-dir) — the RAM-resident query/centroid seed
    * set, the same resident-state pattern [[cachedIvfIndex]] already
    * keeps for the trained path: an ANN service holds its centroids
    * and the harness's query set in memory; only the corpus-side scan
    * is per-probe work. Replaces four per-call head collects (one
    * driver job each) across the ivf/assign/cluster-sizes/semantic
    * queries. Slices by `vec_id < n` reproduce [[collectVecs]] for any
    * n ≤ the collected bound exactly (ids are filtered, not
    * positional). */
  private val headVecsCache = graft.Tables.registerSessionCache(
    scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String), Seq[(Long, Array[Double])]])
  private def cachedHeadVecs(s: SparkSession, dir: String): Seq[(Long, Array[Double])] =
    headVecsCache.getOrElseUpdate((s, dir),
      collectVecs(Tables(s, dir, "embeddings"),
        math.max(NumQueryVecs, CentroidK)))

  /** The STANDING corpus-side embedding index of
    * q_dedup_incremental_embed, built and persisted once per
    * (session, sf-dir) — the same session-scoped standing-structure
    * pattern as DedupQueries' corpus signature index (a stream builds
    * it with `Similarity.corpusEmbedIndex`, whose handle releases it
    * per snapshot). */
  /** Trained-IVF resident state per (session, sf-dir): index path +
    * centroid matrix + query vectors. TRAIN + at-rest layout run once
    * per corpus snapshot (to /tmp — testdata is never written); the
    * centroids and query set are the RAM-resident half of an IVF
    * service, so each query run pays ONLY the probe-side pruned scan
    * + rerank. */
  /** Scratch index retirement is the JVM-wide [[graft.Scratch]]
    * lifecycle (one shutdown hook, Hadoop FS deletes), shared with
    * the other at-rest scratch structures (the cluster-assignment
    * table in DedupQueries). */
  private def registerScratchCleanup(path: String): Unit =
    graft.Scratch.registerCleanup(path)

  private val ivfIndexCache = graft.Tables.registerSessionCache(
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String),
      (String, Seq[Array[Double]], Seq[(Long, Array[Double])])])
  private def cachedIvfIndex(s: SparkSession, dir: String)
      : (String, Seq[Array[Double]], Seq[(Long, Array[Double])]) =
    ivfIndexCache.getOrElseUpdate((s, dir), {
      val emb = Tables(s, dir, "embeddings")
      val cents = Similarity.trainCentroidsDistributed(
        emb, "vec_id", "embedding", CentroidK,
        sampleSize = TrainSampleSize, sampleIters = TrainSampleIters,
        refineIters = TrainRefineIters)
      val path = IvfIndex.scratchPath(dir)
      // scratch indexes are session-lived: retire on JVM exit so
      // repeated harness runs never accumulate /tmp state (the
      // standing-index release-handle discipline, at-rest edition).
      // ONE hook for the whole JVM draining a concurrent queue — a
      // hook per cache fill would accumulate a thread per (session,
      // dir) in a long-lived JVM.
      registerScratchCleanup(path)
      IvfIndex.write(emb, "vec_id", "embedding", cents, path)
      // read BACK from the written index (not the in-memory trainer
      // output) so the query exercises the same load path a fresh
      // process would
      (path, IvfIndex.readCentroids(s, path), collectVecs(emb, NumQueryVecs))
    })

  private val embedIdxCache =
    graft.Tables.registerSessionCache(
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame])
  private def cachedEmbedIndex(s: SparkSession, dir: String): DataFrame =
    embedIdxCache.getOrElseUpdate((s, dir),
      Similarity.corpusEmbedIndex(
        Tables(s, dir, "embeddings")
          .filter(col("vec_id") % 10 < EmbDriftBatchBucket),
        "vec_id", "embedding", NearDupBands, NearDupBandPlanes, Dims)._1)

  /** Shared oracle of q_dedup_incremental_embed AND its at-rest twin
    * q_dedup_embed_atrest (probe ≡ in-RAM is the twin's contract, so
    * one SQL restatement verifies both). */
  private lazy val incrementalEmbedOracle: String =
    embedProbeOracle(s"vec_id % 10 >= $EmbDriftBatchBucket", "TRUE")

  /** The bounded POINT-READ path's oracle: a micro-batch (0.2% of
    * ids, disjoint from the at-rest corpus slice by construction:
    * `% 500 = 499` ⇒ `% 10 = 9` ≥ the corpus cutoff) probed against
    * the same at-rest table — the members predicate restricts the
    * SQL restatement to exactly (corpus slice ∪ batch). */
  private lazy val embedAtRestPointOracle: String =
    embedProbeOracle("vec_id % 500 = 499",
      s"vec_id % 10 < $EmbDriftBatchBucket OR vec_id % 500 = 499")

  private def embedProbeOracle(batchSql: String,
      memberSql: String): String = {
    val bandJoins = (0 until NearDupBands).map(b =>
      s"""SELECT x.id AS batch_id, y.id AS corpus_id
          FROM b x JOIN b y ON x.bk$b = y.bk$b
          WHERE x.is_batch AND NOT y.is_batch""")
      .mkString(" UNION ")
    val bkCols = (0 until NearDupBands)
      .map(b => s"${bucketBandSql("embedding", b, NearDupBandPlanes)} AS bk$b")
      .mkString(", ")
    s"""
    WITH b AS (
      SELECT vec_id AS id, ($batchSql) AS is_batch,
             embedding AS v, $bkCols
      FROM embeddings
      WHERE embedding IS NOT NULL AND ($memberSql)),
    cand AS ($bandJoins),
    j AS (
      SELECT batch_id, corpus_id, ${cosineSql("xa.v", "yb.v")} AS cos
      FROM cand
      JOIN b xa ON xa.id = cand.batch_id
      JOIN b yb ON yb.id = cand.corpus_id)
    SELECT batch_id, corpus_id, round(cos, 6) AS cos
    FROM j WHERE cos >= $NearDupThreshold
    ORDER BY batch_id, corpus_id"""
  }

  /** The AT-REST twin of [[cachedEmbedIndex]]: the same corpus slice
    * persisted as a [[graft.ann.EmbedIndex]] once per (session,
    * sf-dir) — q_dedup_embed_atrest probes the table instead of the
    * session-RAM index and must produce the identical pairs (same
    * oracle as q_dedup_incremental_embed). */
  private val embedAtRestCache =
    graft.Tables.registerSessionCache(
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String])
  private def cachedEmbedAtRest(s: SparkSession, dir: String): String =
    embedAtRestCache.getOrElseUpdate((s, dir), {
      val path = EmbedIndex.scratchPath(dir)
      registerScratchCleanup(path)
      EmbedIndex.write(
        Tables(s, dir, "embeddings")
          .filter(col("vec_id") % 10 < EmbDriftBatchBucket),
        "vec_id", "embedding", path,
        EmbedIndex.Params(NearDupBands, NearDupBandPlanes, Dims))
      path
    })

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact brute-force cosine top-k: broadcast query set, one corpus pass.
    "q_ann_bruteforce" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < NumQueryVecs),
        "vec_id", "embedding", TopK)
        .orderBy("query_id", "rank")
    }),

    // IVF-flat top-k: sampled centroids, narrow cell assignment,
    // nprobe=2 probing, exact cosine rerank — the clustered scale
    // path next to LSH bucketing.
    "q_ann_ivf" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      // one collect serves queries AND centroids (superset of both)
      val head = cachedHeadVecs(s, dir)
      Similarity.ivfTopK(emb,
        head.filter(_._1 < NumQueryVecs), "vec_id", "embedding",
        head.filter(_._1 < CentroidK).map(_._2), NProbe, TopK)
        .orderBy("query_id", "rank")
    }),

    // IVF-flat with SAMPLED-K-MEANS centroids (the production path —
    // first-K centroids degrade recall on clustered corpora). The
    // DuckDB oracle restates the whole trainer — xxhash64 sample
    // order, ordered-double-fold sampled Lloyd, decimal distributed
    // refine ([[trainedCentSql]]) — so this row is hash-checked like
    // every other; AnnRecallSpec's golden hash and recall floor stay
    // as regression armor.
    // Production split: TRAIN + at-rest layout happen ONCE per corpus
    // snapshot (cachedIvfIndexPath — sampled seed + distributed Lloyd
    // refinement, then IvfIndex.write); every run of the query is the
    // PROBE-only read path (centroid load + pruned cell scan + exact
    // rerank) — retraining per run would charge every probe the
    // training bill, which is not what a standing index costs.
    "q_ann_ivf_trained" -> ((s, dir) => {
      val (path, cents, queries) = cachedIvfIndex(s, dir)
      IvfIndex.probeResident(s, path, cents, queries,
        "vec_id", "embedding", NProbe, TopK)
        .orderBy("query_id", "rank")
    }),

    // Cluster-balance histogram under nearest-centroid assignment
    // (first-K centroids so the oracle can restate the assignment):
    // narrow K-dot pass + map-side-combining groupBy on the K-valued
    // cell key — the audit a mixture pipeline runs after k-means.
    "q_ann_cluster_sizes" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = cachedHeadVecs(s, dir).filter(_._1 < CentroidK).map(_._2)
      Similarity.clusterSizes(emb, "vec_id", "embedding", cents)
        .orderBy("cell")
    }),

    // Per-vector cell ROUTING (first-K centroids, oracle-checked):
    // the assignment table q_ann_cluster_sizes histograms — what a
    // mixture/curriculum pipeline joins on to sample per cell.
    "q_ann_assign" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = cachedHeadVecs(s, dir).filter(_._1 < CentroidK).map(_._2)
      Similarity.assignCells(emb, "vec_id", "embedding", cents)
        .orderBy("vec_id")
    }),

    // LSH bucket assignment (8 hyperplanes → 256 buckets): the scale path.
    "q_ann_lsh_buckets" -> ((s, dir) =>
      Tables(s, dir, "embeddings").select(
        col("vec_id"),
        Similarity.lshBucket(col("embedding"), 8, Dims).as("bucket"))
        .orderBy("vec_id")),

    // Int8 scalar quantization codes + per-element reconstruction error.
    "q_ann_quantize" -> ((s, dir) =>
      Similarity.scalarQuantize(Tables(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id", "i")),

    // Johnson-Lindenstrauss random projection 64 → 8 dims (the
    // dimensionality dial ahead of clustering / near-dup passes).
    "q_ann_project" -> ((s, dir) =>
      Similarity.randomProject(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", ProjDims, Dims, ProjPlaneOffset)
        .orderBy("vec_id", "dim")),

    // Per-label mean embedding (class prototypes): exact decimal sums
    // per (label, dim); the shuffle carries |labels|·dims rows.
    "q_ann_label_means" -> ((s, dir) =>
      Similarity.meanByGroup(Tables(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label", "dim")),

    // Embedding-space DRIFT: per-dimension mean shift between the
    // standing corpus and the incoming batch (vec_id % 10 split) —
    // the vector-side twin of q_text_vocab_drift: a shifted encoder
    // or source shows up as per-dim mean displacement before it
    // degrades ANN recall. One narrow explode + a dims-row shuffle
    // (map-side combined); DECIMAL sums keep both engines exact.
    "q_ann_embedding_drift" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
        .filter(col("embedding").isNotNull)
        .select((col("vec_id") % 10 >= EmbDriftBatchBucket).as("is_batch"),
          posexplode(col("embedding")).as(Seq("__pos", "__v")))
        .select(col("is_batch"), (col("__pos").cast("long") + 1).as("dim"),
          col("__v").cast("double").as("v"))
      val mc = col("s_corpus").cast("double") / col("n_corpus")
      val mb = col("s_batch").cast("double") / col("n_batch")
      e.groupBy("dim").agg(
          count(when(!col("is_batch"), lit(1))).as("n_corpus"),
          sum(when(!col("is_batch"), col("v").cast("decimal(28,10)")))
            .as("s_corpus"),
          count(when(col("is_batch"), lit(1))).as("n_batch"),
          sum(when(col("is_batch"), col("v").cast("decimal(28,10)")))
            .as("s_batch"))
        .select(col("dim"), col("n_corpus"), col("n_batch"),
          round(mc, 6).as("mean_corpus"), round(mb, 6).as("mean_batch"),
          round(abs(mc - mb), 6).as("abs_diff"))
        .orderBy("dim")
    }),

    // LSH-bucketed approximate kNN graph (top-KnnK per vertex within
    // its bucket) — the edge list community detection / diversity
    // sampling consumes; plane count adapts to the corpus like
    // q_dedup_embed_cos.
    "q_ann_knn_graph" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val np = Similarity.adaptivePlanes(Tables.rowCount(s, dir, "embeddings"))
      Similarity.knnGraph(emb, "vec_id", "embedding", np, Dims, KnnK)
        .orderBy("src", "rank")
    }),

    // Embedding-cosine near-dup pairs, LSH-bucket blocked. The plane
    // count ADAPTS to the corpus (one cheap count() job): expected
    // bucket size stays ≤ Similarity.TargetBucketSize, so the in-bucket
    // quadratic step is O(n · bucket) — linear — at any scale factor,
    // instead of O(n²/2^const). The oracle derives the identical plane
    // count from COUNT(*) with the same integer arithmetic ([[npSql]]);
    // the Spark side reads the same number from the parquet footers
    // (Tables.rowCount — a metadata read, not a per-run corpus scan).
    "q_dedup_embed_cos" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val np = Similarity.adaptivePlanes(Tables.rowCount(s, dir, "embeddings"))
      Similarity.lshNearDupPairs(emb,
        "vec_id", "embedding", np, Dims, NearDupThreshold)
        .orderBy("id_a", "id_b")
    }),

    // Multi-band variant (OR-amplified recall — the billion-vector
    // dial): 3 independent 6-plane bands, any-band collision, exact
    // cosine verify.
    "q_dedup_embed_cos_banded" -> ((s, dir) =>
      Similarity.bandedNearDupPairs(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", NearDupBands, NearDupBandPlanes, Dims,
        NearDupThreshold)
        .orderBy("id_a", "id_b")),

    // Incremental embedding NEAR-DUP: the batch (vec_id % 10 >=
    // EmbDriftBatchBucket) probes the corpus's STANDING banded-LSH
    // index — the vector-side member of the probe-against-corpus
    // family (exact hash / MinHash / SimHash / embedding cosine),
    // closing the one family that still rebuilt its index per batch.
    // Each batch pays |batch|·bands probe rows against the persisted
    // |corpus|·bands index; exact cosine verifies every collision.
    "q_dedup_incremental_embed" -> ((s, dir) =>
      Similarity.probeEmbedIndex(
        Tables(s, dir, "embeddings")
          .filter(col("vec_id") % 10 >= EmbDriftBatchBucket),
        cachedEmbedIndex(s, dir),
        "vec_id", "embedding", NearDupBands, NearDupBandPlanes, Dims,
        NearDupThreshold)
        .orderBy("batch_id", "corpus_id")),

    // The same probe against the AT-REST embedding index
    // (graft.ann.EmbedIndex): candidates point-read from the packed
    // bucket table WITH their vectors riding the same pages (the
    // posting-list layout), cosine-verified in place — the
    // restartable production form of the incremental embed gate.
    // Identical pairs, identical oracle.
    "q_dedup_embed_atrest" -> ((s, dir) =>
      EmbedIndex.probe(
        Tables(s, dir, "embeddings")
          .filter(col("vec_id") % 10 >= EmbDriftBatchBucket),
        cachedEmbedAtRest(s, dir), "vec_id", "embedding",
        NearDupThreshold)
        .orderBy("batch_id", "corpus_id")),

    // The BOUNDED path of the same probe — a MICRO-batch (0.2% of
    // ids, well under the point-read key cap at every sf), so the
    // bench carries the scale path's latency, not just the documented
    // oversized-batch scan fallback the query above exercises:
    // exactly TWO single-stage collects (batch band rows, then bucket
    // pages carrying the colliding vectors — pinned by job count in
    // EmbedIndexSpec), and the per-key driver codegen cost
    // (PointReads' measured ~1.5 ms/key cutover) stays
    // micro-batch-sized.
    "q_dedup_embed_atrest_point" -> ((s, dir) =>
      EmbedIndex.probe(
        Tables(s, dir, "embeddings").filter(col("vec_id") % 500 === 499),
        cachedEmbedAtRest(s, dir), "vec_id", "embedding",
        NearDupThreshold)
        .orderBy("batch_id", "corpus_id")),

    // SEMANTIC dedup (SemDeDup): per-vector kept/dropped verdict
    // under the upper-triangular within-cluster rule — see
    // Similarity.semanticDedup. First-K centroids so the oracle can
    // restate the assignment (the trained-centroid variant swaps in
    // cachedIvfIndex's centroids, same rule).
    "q_dedup_semantic" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = cachedHeadVecs(s, dir).filter(_._1 < CentroidK).map(_._2)
      Similarity.semanticDedup(emb, "vec_id", "embedding", cents,
        SemanticThreshold)
        .orderBy("vec_id")
    }),

    // SemDeDup in its PRODUCTION form: trained centroids (distributed
    // Lloyd — the same resident state q_ann_ivf_trained probes) over
    // the AT-REST cell-partitioned corpus, so the semantic partition
    // is the index layout itself: zero assignment recompute, the pair
    // join's one exchange hashes the stored cell key, and the files
    // are read cell-local. Oracle-backed like q_ann_ivf_trained (the
    // shared [[trainedCentSql]] chain feeding [[semanticOracleSql]]);
    // the SemanticDedupSpec at-rest equality case and its golden hash
    // stay as regression armor.
    "q_dedup_semantic_trained" -> ((s, dir) => {
      val (path, _, _) = cachedIvfIndex(s, dir)
      IvfIndex.semanticDedup(s, path, "vec_id", "embedding",
        SemanticThreshold)
        .orderBy("vec_id")
    }))

  // ------------------------------------------------------------------
  // DuckDB mirrors (explicit left folds, same LCG hyperplanes)
  // ------------------------------------------------------------------

  /** Σ over i of `term(i)` (1-based), as an explicit left fold. */
  private def foldSum(n: Int, term: String => String): String =
    s"list_reduce(list_concat([CAST(0 AS DOUBLE)], " +
      s"list_transform(range(1, ${n + 1}), i -> ${term("CAST(i AS INT)")})), " +
      s"(a, b) -> a + b)"

  private def dotSql(a: String, b: String): String =
    foldSum(Dims, i => s"CAST(($a)[$i] AS DOUBLE) * CAST(($b)[$i] AS DOUBLE)")

  private def cosineSql(a: String, b: String): String = {
    val nn = s"(sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
    s"(CASE WHEN $nn > 0 THEN ${dotSql(a, b)} / $nn ELSE 0.0 END)"
  }

  /** IVF assignment score dot(v,c)/|c| — mirrors Similarity.ivfTopK's
    * norm-free argmax form exactly (sqrt is correctly rounded in IEEE
    * 754, so the SQL norm is bit-identical to the driver-side one). */
  private def ivfScoreSql(v: String, c: String): String = {
    val n = s"sqrt(${dotSql(c, c)})"
    s"(CASE WHEN $n > 0 THEN ${dotSql(v, c)} / $n ELSE 0.0 END)"
  }

  /** LCG hyperplane weight for plane p (literal) and 1-based dim index i. */
  private def weightSql(p: Int, i: String): String =
    s"(CAST(((CAST($p * $Dims + ($i - 1) AS BIGINT) * 1103515245 + 12345) % 2147483648) AS DOUBLE) / 1073741824.0 - 1.0)"

  private def bucketSql(v: String, numPlanes: Int): String =
    (0 until numPlanes).map { p =>
      val proj = foldSum(Dims, i => s"CAST(($v)[$i] AS DOUBLE) * ${weightSql(p, i)}")
      s"(CASE WHEN $proj >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB mirror of [[Similarity.adaptivePlanes]] over a column
    * `cnt` (exact integer thresholds — first matching WHEN ≡ Scala's
    * `find`, so both engines derive the same plane count). */
  private def npSql: String =
    "(CASE " + (Similarity.MinPlanes until Similarity.MaxPlanes)
      .map(p => s"WHEN cnt <= ${(1L << p) * Similarity.TargetBucketSize} THEN $p")
      .mkString(" ") + s" ELSE ${Similarity.MaxPlanes} END)"

  /** Bucket id under the adaptive plane count: unrolled to MaxPlanes
    * terms, each guarded by `p < np` (the CTE-computed plane count) so
    * planes beyond the derived count contribute 0 — static SQL,
    * dynamic plane count, np derived once instead of per guard. */
  private def bucketAdaptiveSql(v: String): String =
    (0 until Similarity.MaxPlanes).map { p =>
      val proj = foldSum(Dims, i => s"CAST(($v)[$i] AS DOUBLE) * ${weightSql(p, i)}")
      s"(CASE WHEN $p < np AND $proj >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Bucket id for band `band` (planes globally indexed from
    * band·planesPerBand — mirrors Similarity.lshBucket's planeOffset). */
  private def bucketBandSql(v: String, band: Int, planesPerBand: Int): String =
    (0 until planesPerBand).map { p =>
      val proj = foldSum(Dims,
        i => s"CAST(($v)[$i] AS DOUBLE) * ${weightSql(band * planesPerBand + p, i)}")
      s"(CASE WHEN $proj >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  // ------------------------------------------------------------------
  // Trained-centroid oracle: Similarity.trainCentroidsDistributed
  // restated in DuckDB SQL, giving the trained pair the same
  // hash-level check as every other query. The sampled Lloyd phase is
  // order-DEPENDENT double arithmetic (the driver folds the sample in
  // xxhash64 order), so the SQL reproduces (a) Spark's xxhash64 of one
  // long — XXH64 restated in HUGEINT arithmetic mod 2^64 — for the
  // sample order, and (b) the per-cell left folds via ordered list
  // aggregation (list(x ORDER BY rn) then list_reduce ≡ the driver's
  // sequential `sums += v(d)` in hash order). The refine phase is the
  // order-INDEPENDENT decimal(28,10) fold, restated as a plain decimal
  // SUM. MATERIALIZED CTEs are load-bearing: each Lloyd iteration
  // references its predecessor twice, and without materialization the
  // 12-stage chain re-evaluates exponentially.
  // ------------------------------------------------------------------

  private val XxP1 = BigInt("9E3779B185EBCA87", 16)
  private val XxP2 = BigInt("C2B2AE3D27D4EB4F", 16)
  private val XxP3 = BigInt("165667B19E3779F9", 16)
  private val XxP4 = BigInt("85EBCA77C2B2AE63", 16)
  private val XxP5 = BigInt("27D4EB2F165667C5", 16)
  private val Mod64 = BigInt(1) << 64
  private def rotlB(x: BigInt, r: Int): BigInt =
    ((x << r) | (x >> (64 - r))) & (Mod64 - 1)

  /** XXH64 of one 8-byte value (Spark's XxHash64 per-LongType-field
    * step; the algorithm is public — Cyan4973/xxHash). Verified
    * against Spark's `xxhash64` output in AnnRecallSpec. */
  private[graft] def xxh64Long(input: BigInt, seed: BigInt): BigInt = {
    var h = (seed + XxP5 + 8) % Mod64
    h ^= rotlB(input * XxP2 % Mod64, 31) * XxP1 % Mod64
    h = (rotlB(h, 27) * XxP1 + XxP4) % Mod64
    h ^= h >> 33
    h = h * XxP2 % Mod64
    h ^= h >> 29
    h = h * XxP3 % Mod64
    h ^= h >> 32
    h
  }

  /** Per-row running-hash INIT constant: `xxhash64(lit(seed), id)`
    * chains hashLong over the fields, so the leading literal folds to
    * `hashLong(42, 42)` and the first variable step starts from
    * `inner + P5 + 8` — precomputed here so the SQL does one
    * hashLong, not two. */
  private[graft] val XxRowInit: BigInt =
    (xxh64Long(BigInt(42), BigInt(42)) + XxP5 + 8) % Mod64

  // 64-bit wraparound arithmetic over HUGEINT-typed SQL expressions.
  // Every value is kept in [0, 2^64); the 32-bit-half decomposition
  // keeps each partial product < 2^65, far inside HUGEINT range.
  private def mul64(a: String, b: String): String =
    s"(((($a) % 4294967296) * (($b) % 4294967296) + " +
      s"(((($a) % 4294967296) * (($b) // 4294967296) + " +
      s"(($a) // 4294967296) * (($b) % 4294967296)) % 4294967296) * " +
      s"4294967296) % $Mod64)"
  private def rotl64(x: String, r: Int): String = {
    val lo = BigInt(1) << (64 - r)
    s"((($x) % $lo) * ${BigInt(1) << r} + ($x) // $lo)"
  }
  private def xor64(a: String, b: String): String =
    s"CAST(xor(CAST($a AS UBIGINT), CAST($b AS UBIGINT)) AS HUGEINT)"
  private def shr64(x: String, r: Int): String =
    s"(($x) // ${BigInt(1) << r})"

  /** CTE stages computing `hord(vec_id, embedding, hkey)` where hkey
    * is the SIGNED `xxhash64(lit(42L), vec_id)` — the sample sort key
    * of [[Similarity.trainCentroids]]. Chained one-step-per-CTE so the
    * 64-bit emulation stays readable and each subexpression is
    * computed once. */
  private def xxhashStagesSql: String = s"""
  hx0 AS (SELECT *, CAST(CASE WHEN vec_id < 0 THEN CAST(vec_id AS HUGEINT) + $Mod64
                         ELSE CAST(vec_id AS HUGEINT) END AS HUGEINT) AS z
          FROM emb_nn),
  hx1 AS (SELECT *, ${mul64(rotl64(mul64("z", XxP2.toString), 31), XxP1.toString)} AS k1 FROM hx0),
  hx2 AS (SELECT *, ${xor64(XxRowInit.toString, "k1")} AS h1 FROM hx1),
  hx3 AS (SELECT *, (${mul64(rotl64("h1", 27), XxP1.toString)} + $XxP4) % $Mod64 AS h2 FROM hx2),
  hx4 AS (SELECT *, ${mul64(xor64("h2", shr64("h2", 33)), XxP2.toString)} AS h3 FROM hx3),
  hx5 AS (SELECT *, ${mul64(xor64("h3", shr64("h3", 29)), XxP3.toString)} AS h4 FROM hx4),
  hx6 AS (SELECT *, ${xor64("h4", shr64("h4", 32))} AS h5 FROM hx5),
  hord AS (SELECT vec_id, embedding,
                  CASE WHEN h5 >= ${BigInt(1) << 63} THEN h5 - $Mod64 ELSE h5 END AS hkey
           FROM hx6)"""

  /** One sampled-Lloyd iteration: assign (argmax of the shared IVF
    * score, first-wins ties), per-(cell, dim) ORDERED left-fold mean
    * (the driver's sequential double sums in hash order), spherical
    * normalize; an emptied cell keeps its previous centroid (the
    * LEFT JOIN's NULL arm). */
  private def centIterSql(t: Int): String = {
    val prev = s"c${t - 1}"
    val normFold = foldSum(Dims, i => s"(m)[$i] * (m)[$i]")
    s"""
  a$t AS MATERIALIZED (SELECT rn, v, cell,
             row_number() OVER (PARTITION BY rn ORDER BY sc DESC, cell) AS arn
           FROM (SELECT s.rn, s.v, c.cell, ${ivfScoreSql("s.v", "c.v")} AS sc
                 FROM smp s CROSS JOIN $prev c)),
  m$t AS MATERIALIZED (SELECT cell, d,
             list_reduce(list_concat([CAST(0 AS DOUBLE)], list(v[d] ORDER BY rn)),
                         (a, b) -> a + b) / count(*) AS m
           FROM (SELECT rn, v, cell FROM a$t WHERE arn = 1)
                CROSS JOIN range(1, ${Dims + 1}) r(d)
           GROUP BY cell, d),
  n$t AS MATERIALIZED (SELECT cell, m, sqrt($normFold) AS nr
           FROM (SELECT cell, list(m ORDER BY d) AS m FROM m$t GROUP BY cell)),
  c$t AS MATERIALIZED (SELECT p.cell,
             CASE WHEN q.m IS NULL THEN p.v
                  WHEN q.nr > 0 THEN list_transform(q.m, x -> x / q.nr)
                  ELSE q.m END AS v
           FROM $prev p LEFT JOIN n$t q ON p.cell = q.cell)"""
  }

  /** One distributed-refine iteration ([[Similarity.refineCentroids]]):
    * same assignment rule over the FULL corpus, per-(cell, dim)
    * DECIMAL(28,10) sums (order-independent — the exact shape Spark
    * folds in), decimal→double then divide, spherical normalize. */
  private def refineIterSql(t: Int, prev: String): String = {
    val normFold = foldSum(Dims, i => s"(m)[$i] * (m)[$i]")
    s"""
  ra$t AS MATERIALIZED (SELECT v, cell,
              row_number() OVER (PARTITION BY rid ORDER BY sc DESC, cell) AS arn
            FROM (SELECT s.rid, s.v, c.cell, ${ivfScoreSql("s.v", "c.v")} AS sc
                  FROM corpus_d s CROSS JOIN $prev c)),
  rm$t AS MATERIALIZED (SELECT cell, d,
              CAST(sum(CAST(v[d] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS m
            FROM (SELECT v, cell FROM ra$t WHERE arn = 1)
                 CROSS JOIN range(1, ${Dims + 1}) r(d)
            GROUP BY cell, d),
  rn$t AS MATERIALIZED (SELECT cell, m, sqrt($normFold) AS nr
            FROM (SELECT cell, list(m ORDER BY d) AS m FROM rm$t GROUP BY cell)),
  rc$t AS MATERIALIZED (SELECT p.cell,
              CASE WHEN q.m IS NULL THEN p.v
                   WHEN q.nr > 0 THEN list_transform(q.m, x -> x / q.nr)
                   ELSE q.m END AS v
            FROM $prev p LEFT JOIN rn$t q ON p.cell = q.cell)"""
  }

  /** Sampled-seed + distributed-refine constants — shared between
    * [[cachedIvfIndex]]'s trainer call and the SQL restatement. */
  val TrainSampleSize = 4096
  val TrainSampleIters = 10

  /** The full trained-centroid WITH-fragment, ending in
    * `cent(cid, cv)` — plug-compatible with [[firstKCentSql]], so the
    * probe/semantic oracle bodies are shared verbatim between the
    * first-K and trained variants. */
  private def trainedCentSql: String = {
    val sampled = (1 to TrainSampleIters).map("," + centIterSql(_)).mkString
    val refined = (1 to TrainRefineIters).map(t =>
      "," + refineIterSql(t, if (t == 1) s"c$TrainSampleIters" else s"rc${t - 1}"))
      .mkString
    s"""
  emb_nn AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
  ${xxhashStagesSql.trim},
  smp AS MATERIALIZED (SELECT row_number() OVER (ORDER BY hkey, vec_id) AS rn,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM hord
          QUALIFY rn <= $TrainSampleSize),
  c0 AS MATERIALIZED (SELECT rn - 1 AS cell, v FROM smp WHERE rn <= $CentroidK),
  corpus_d AS MATERIALIZED (SELECT vec_id AS rid,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM emb_nn)$sampled$refined,
  cent AS (SELECT cell AS cid, v AS cv FROM rc$TrainRefineIters)"""
  }

  /** First-K centroids as the same `cent(cid, cv)` contract. */
  private def firstKCentSql: String = s"""
      cent AS (
        SELECT vec_id AS cid, embedding AS cv FROM embeddings
        WHERE vec_id < $CentroidK)"""

  /** IVF probe restated relationally over a `cent(cid, cv)` CTE —
    * assignment is the rank-1 centroid per vector (score DESC, cid
    * ASC — identical tie-break to the Spark when-chain / driver
    * sort), probes are the rank ≤ NProbe centroids of each query,
    * rerank is exact cosine. Shared by q_ann_ivf (first-K) and
    * q_ann_ivf_trained (trained chain). */
  private def ivfProbeOracleSql(centCtes: String): String = s"""
      WITH $centCtes,
      asg AS (
        SELECT e.vec_id, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${ivfScoreSql("e.embedding", "c.cv")} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c),
      cells AS (SELECT vec_id, cid AS cell FROM asg WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, cid AS probe FROM asg
        WHERE vec_id < $NumQueryVecs AND rn <= $NProbe),
      q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
            WHERE vec_id < $NumQueryVecs),
      cand AS (
        SELECT p.query_id, cl.vec_id AS neighbor_id,
          ${cosineSql("q.qv", "a.embedding")} AS cos
        FROM probes p
        JOIN cells cl ON cl.cell = p.probe AND cl.vec_id <> p.query_id
        JOIN embeddings a ON a.vec_id = cl.vec_id
        JOIN q ON q.query_id = p.query_id),
      ranked AS (
        SELECT query_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank
        FROM cand)
      SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
      FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank"""

  /** SemDeDup restated over a `cent(cid, cv)` CTE — shared by
    * q_dedup_semantic (first-K) and q_dedup_semantic_trained. */
  private def semanticOracleSql(centCtes: String): String = s"""
      WITH $centCtes,
      asg AS (
        SELECT e.vec_id, e.embedding, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${ivfScoreSql("e.embedding", "c.cv")} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c
        WHERE e.embedding IS NOT NULL),
      cells AS (
        SELECT vec_id, embedding AS v, cid AS cell FROM asg WHERE rn = 1),
      sh AS (
        SELECT y.vec_id, min(x.vec_id) AS shadow_id,
          round(max(${cosineSql("x.v", "y.v")}), 6) AS max_sim
        FROM cells x JOIN cells y
          ON x.cell = y.cell AND x.vec_id < y.vec_id
        WHERE ${cosineSql("x.v", "y.v")} >= $SemanticThreshold
        GROUP BY y.vec_id)
      SELECT c.vec_id, c.cell,
        (sh.shadow_id IS NOT NULL) AS dropped,
        sh.shadow_id, sh.max_sim
      FROM cells c LEFT JOIN sh ON c.vec_id = sh.vec_id
      ORDER BY c.vec_id"""

  def oracleSql: Map[String, String] = Map(

    "q_ann_bruteforce" -> s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                 FROM embeddings WHERE vec_id < $NumQueryVecs),
      scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               ${cosineSql("q.qv", "c.embedding")} AS cos
        FROM q CROSS JOIN embeddings c
        WHERE q.query_id <> c.vec_id),
      ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
      FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""",

    "q_ann_lsh_buckets" -> s"""
      SELECT vec_id, ${bucketSql("embedding", 8)} AS bucket
      FROM embeddings ORDER BY vec_id""",

    // Parallel unnests zip in DuckDB: dim j pairs with component j's
    // projection (same fold, same LCG planes, same sqrt scale).
    "q_ann_project" -> {
      val scale = s"sqrt(CAST($ProjDims AS DOUBLE))"
      val comps = (0 until ProjDims).map { j =>
        val proj = foldSum(Dims, i =>
          s"CAST((embedding)[$i] AS DOUBLE) * ${weightSql(ProjPlaneOffset + j, i)}")
        s"round($proj / $scale, 6)"
      }.mkString("[", ", ", "]")
      s"""
      SELECT vec_id,
        unnest(range(1, ${ProjDims + 1})) AS dim,
        unnest($comps) AS value
      FROM embeddings WHERE embedding IS NOT NULL
      ORDER BY vec_id, dim"""
    },

    "q_ann_quantize" -> """
      WITH d AS (
        SELECT vec_id,
          list_transform(embedding, __x -> CAST(__x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
      m AS (
        SELECT vec_id, v,
          list_aggregate(v, 'min') AS mn, list_aggregate(v, 'max') AS mx
        FROM d),
      e AS (
        SELECT vec_id, mn, mx,
          unnest(range(1, len(v) + 1)) AS i, unnest(v) AS v
        FROM m),
      c AS (
        SELECT vec_id, i, v, mn, mx,
          CASE WHEN mx > mn
               THEN CAST(round(((v - mn) * 255.0) / (mx - mn)) AS BIGINT)
               ELSE 0 END AS code
        FROM e)
      SELECT vec_id, i, v, code,
        round(abs(v - (mn + ((code * (mx - mn)) / 255.0))), 6) AS abs_err
      FROM c ORDER BY vec_id, i""",

    // Same rank-1 assignment CTE as q_ann_ivf, aggregated per cell;
    // mean_score sums in DECIMAL then divides as double (the
    // deterministic-emission convention).
    "q_ann_cluster_sizes" -> s"""
      WITH cent AS (
        SELECT vec_id AS cid, embedding AS cv FROM embeddings
        WHERE vec_id < $CentroidK),
      asg AS (
        SELECT e.vec_id, c.cid,
          ${ivfScoreSql("e.embedding", "c.cv")} AS score,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${ivfScoreSql("e.embedding", "c.cv")} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c)
      SELECT cid AS cell, count(*) AS n_vectors,
        round(CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
          / count(*), 6) AS mean_score
      FROM asg WHERE rn = 1
      GROUP BY cid ORDER BY cid""",

    "q_ann_assign" -> s"""
      WITH cent AS (
        SELECT vec_id AS cid, embedding AS cv FROM embeddings
        WHERE vec_id < $CentroidK),
      asg AS (
        SELECT e.vec_id, c.cid,
          ${ivfScoreSql("e.embedding", "c.cv")} AS score,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${ivfScoreSql("e.embedding", "c.cv")} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c)
      SELECT vec_id, cid AS cell, round(score, 6) AS score
      FROM asg WHERE rn = 1
      ORDER BY vec_id""",

    // Oracle = the IVF spec in relational form ([[ivfProbeOracleSql]])
    // over first-K centroids.
    "q_ann_ivf" -> ivfProbeOracleSql(firstKCentSql),

    // The trained variant: the SAME probe body over the Lloyd-trained
    // centroid chain — sampled seed + distributed refine, restated in
    // SQL ([[trainedCentSql]]), closing the round-14 oracle gap.
    "q_ann_ivf_trained" -> ivfProbeOracleSql(trainedCentSql),

    "q_dedup_embed_cos_banded" -> {
      val bandJoins = (0 until NearDupBands).map(b =>
        s"""SELECT x.id AS id_a, y.id AS id_b
            FROM b x JOIN b y ON x.bk$b = y.bk$b AND x.id < y.id""")
        .mkString(" UNION ")
      val bkCols = (0 until NearDupBands)
        .map(b => s"${bucketBandSql("embedding", b, NearDupBandPlanes)} AS bk$b")
        .mkString(", ")
      s"""
      WITH b AS (
        SELECT vec_id AS id, embedding AS v, $bkCols FROM embeddings),
      cand AS ($bandJoins),
      j AS (
        SELECT id_a, id_b, ${cosineSql("xa.v", "yb.v")} AS cos
        FROM cand
        JOIN b xa ON xa.id = cand.id_a
        JOIN b yb ON yb.id = cand.id_b)
      SELECT id_a, id_b, round(cos, 6) AS cos
      FROM j WHERE cos >= $NearDupThreshold
      ORDER BY id_a, id_b"""
    },

    "q_ann_label_means" -> """
      WITH e AS (
        SELECT label, unnest(range(1, len(embedding) + 1)) AS dim,
               unnest(embedding) AS v
        FROM embeddings WHERE embedding IS NOT NULL)
      SELECT label, dim, count(*) AS n_vectors,
        round(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)
          / count(*), 6) AS mean_val
      FROM e GROUP BY label, dim ORDER BY label, dim""",

    "q_ann_embedding_drift" -> s"""
      WITH e AS (
        SELECT (vec_id % 10 >= $EmbDriftBatchBucket) AS is_batch,
               unnest(range(1, len(embedding) + 1)) AS dim,
               unnest(embedding) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
      a AS (
        SELECT dim,
          count(*) FILTER (WHERE NOT is_batch) AS n_corpus,
          count(*) FILTER (WHERE is_batch) AS n_batch,
          CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,10)))
               FILTER (WHERE NOT is_batch) AS DOUBLE) AS s_corpus,
          CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,10)))
               FILTER (WHERE is_batch) AS DOUBLE) AS s_batch
        FROM e GROUP BY dim)
      SELECT dim, n_corpus, n_batch,
        round(s_corpus / n_corpus, 6) AS mean_corpus,
        round(s_batch / n_batch, 6) AS mean_batch,
        round(abs(s_corpus / n_corpus - s_batch / n_batch), 6) AS abs_diff
      FROM a ORDER BY dim""",

    "q_ann_knn_graph" -> s"""
      WITH n AS (SELECT count(*) AS cnt FROM embeddings),
      np_t AS (SELECT $npSql AS np FROM n),
      b AS (
        SELECT vec_id AS id, embedding AS v,
               ${bucketAdaptiveSql("embedding")} AS bucket
        FROM embeddings, np_t),
      e AS (
        SELECT x.id AS src, y.id AS dst, ${cosineSql("x.v", "y.v")} AS cos
        FROM b x JOIN b y ON x.bucket = y.bucket AND x.id <> y.id),
      r AS (
        SELECT src, dst, cos,
          row_number() OVER (PARTITION BY src
            ORDER BY cos DESC, dst) AS rank
        FROM e)
      SELECT src, rank, dst, round(cos, 6) AS cos
      FROM r WHERE rank <= $KnnK ORDER BY src, rank""",

    "q_dedup_embed_cos" -> s"""
      WITH n AS (SELECT count(*) AS cnt FROM embeddings),
      np_t AS (SELECT $npSql AS np FROM n),
      b AS (
        SELECT vec_id AS id, embedding AS v,
               ${bucketAdaptiveSql("embedding")} AS bucket
        FROM embeddings, np_t),
      pairs AS (
        SELECT x.id AS id_a, y.id AS id_b, x.bucket,
               ${cosineSql("x.v", "y.v")} AS cos
        FROM b x JOIN b y ON x.bucket = y.bucket AND x.id < y.id)
      SELECT id_a, id_b, bucket, round(cos, 6) AS cos
      FROM pairs WHERE cos >= $NearDupThreshold
      ORDER BY id_a, id_b""",

    // Same banded construction as q_dedup_embed_cos_banded, probed
    // ACROSS the corpus/batch split instead of within the corpus
    // (UNION dedups multi-band collisions like the Spark distinct).
    "q_dedup_incremental_embed" -> incrementalEmbedOracle,

    // The at-rest probe is output-identical by contract
    // (EmbedIndexSpec pins probe ≡ in-RAM) — one oracle serves both,
    // so the driver verifies the equivalence end to end.
    "q_dedup_embed_atrest" -> incrementalEmbedOracle,
    "q_dedup_embed_atrest_point" -> embedAtRestPointOracle,

    // Assignment CTE identical to q_ann_assign's; the dedup rule is
    // the upper-triangular within-cell pair filter restated
    // relationally.
    "q_dedup_semantic" -> semanticOracleSql(firstKCentSql),

    // SemDeDup over the trained chain — same body, trained centroids.
    "q_dedup_semantic_trained" -> semanticOracleSql(trainedCentSql))
}
