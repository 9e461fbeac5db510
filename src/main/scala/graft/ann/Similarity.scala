package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`):
 * brute-force cosine top-k as the exact baseline, and random-hyperplane
 * LSH bucketing as the scale path.
 *
 * Scale design (100 TB / billions of vectors):
 *  - Brute force broadcasts the QUERY set (small side) against the
 *    corpus — one narrow pass, no corpus shuffle; the only shuffle is
 *    the final per-query top-k (k rows per partition pre-aggregated by
 *    the Window's partial sort... see topK note below).
 *  - LSH assigns each vector a bucket id in a narrow pass; candidate
 *    retrieval becomes an equi-join on bucket — the classic IVF/LSH
 *    trade of recall for a bounded candidate set.
 *
 * Portability: all arithmetic is double-precision with explicit
 * left-fold order, and hyperplanes come from an integer LCG on
 * (plane, dim) — bit-identical in any engine that follows the same
 * fold (DuckDB mirrors in [[AnnQueries]]).
 */
object Similarity {

  import org.apache.spark.sql.graftshim.GraftShims.{column => toCol, expression => toExpr}
  import graft.functions.VectorDot

  /**
   * Dot product with explicit left-fold order: Σ a_i·b_i as doubles.
   * Native codegen'd expression (graft.functions.VectorDot) — the HOF
   * formulation `aggregate(zip_with(...))` is bit-identical but runs
   * interpreted and allocates per row; this is the ANN hot loop.
   */
  def dot(a: Column, b: Column): Column =
    toCol(VectorDot(toExpr(a), toExpr(b)))

  /** L2 norm (same fold). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, 0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn > 0, d / nn).otherwise(lit(0.0))
  }

  /**
   * Exact top-k neighbors of each query vector (brute force).
   * `corpus` and `queries` both carry (idCol, vecCol); queries are
   * broadcast. Ties broken by neighbor id for determinism.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    rankTopK(scored, k)
  }

  /** Shared top-k epilogue (brute force + IVF): per-query rank by
    * (cos desc, neighbor asc), keep k, round — ONE place defines the
    * ANN output contract. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** LCG pseudo-random hyperplane weight for (plane, dim) in [-1, 1).
    * Shared spec with the DuckDB mirror: w = ((1103515245·i + 12345)
    * mod 2^31) / 2^30 − 1, i = plane·dims + dim. Computed driver-side
    * into a literal array — the plane matrix is a constant, so it
    * ships with the plan instead of being rebuilt per row. */
  def planeWeights(plane: Int, dims: Int): Array[Double] =
    Array.tabulate(dims) { d =>
      val i = plane.toLong * dims + d
      ((i * 1103515245L + 12345L) % 2147483648L).toDouble / 1073741824.0 - 1.0
    }

  /**
   * Random-hyperplane LSH bucket id: bit p = [dot(w_p, v) ≥ 0],
   * bucket = Σ bit_p·2^p. Narrow per-row pass; planes are literal
   * constant arrays, projections use the native VectorDot.
   */
  def lshBucket(vec: Column, numPlanes: Int, dims: Int,
      planeOffset: Int = 0): Column =
    (0 until numPlanes).map { p =>
      val proj = dot(vec, typedLit(planeWeights(planeOffset + p, dims)))
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Defaults for [[adaptivePlanes]]: expected bucket size ≈
    * n / 2^planes ≤ [[TargetBucketSize]] (for balanced buckets), so the
    * in-bucket pairwise join is O(n · targetBucket) — linear in the
    * corpus — instead of O(n²/2^constant). The bound holds up to
    * n = target·2^maxPlanes (~1M at the defaults); past that the count
    * clamps, because single-band recall ≈ (1−θ/π)^planes decays with
    * every added plane — beyond the clamp the right tool is the
    * multi-band variant (several independent plane sets OR-ed
    * together, the MinHash-banding trade), not more planes. */
  val TargetBucketSize = 16L
  val MinPlanes = 4
  val MaxPlanes = 16

  /**
   * Corpus-size-derived hyperplane count: the smallest p in
   * [minPlanes, maxPlanes] with targetBucket · 2^p ≥ n (exact integer
   * arithmetic — no float log2, so any engine derives the identical p
   * from the same count; DuckDB mirror in [[AnnQueries.npSql]]).
   */
  def adaptivePlanes(n: Long, targetBucket: Long = TargetBucketSize,
      minPlanes: Int = MinPlanes, maxPlanes: Int = MaxPlanes): Int =
    (minPlanes to maxPlanes)
      .find(p => (1L << p) * targetBucket >= n).getOrElse(maxPlanes)

  /**
   * Bucketed near-duplicate pairs: vectors sharing an LSH bucket,
   * cosine ≥ threshold. The quadratic step is bounded per bucket.
   */
  def lshNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, dims: Int, threshold: Double): DataFrame = {
    val b = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      lshBucket(col(vecCol), numPlanes, dims).as("bucket"))
    b.as("x").join(b.as("y"), Seq("bucket"))
      .filter(col("x.id") < col("y.id"))
      .withColumn("cos", cosine(col("x.v"), col("y.v")))
      .filter(col("cos") >= threshold)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("bucket"), round(col("cos"), 6).as("cos"))
  }

  /** Driver-side dot product replicating VectorDot's left fold
    * EXACTLY (same IEEE ops, same order) so probe cells computed on
    * the driver match cells the cluster computes. */
  def dotLocal(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Driver-side cosine (same guard as [[cosine]]). */
  def cosineLocal(a: Array[Double], b: Array[Double]): Double = {
    val nn = math.sqrt(dotLocal(a, a)) * math.sqrt(dotLocal(b, b))
    if (nn > 0) dotLocal(a, b) / nn else 0.0
  }

  /** Unit-normalize in place semantics (returns a new array); all-zero
    * vectors pass through — shared by the sampled and distributed
    * Lloyd updates. */
  private def normalizeLocal(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dotLocal(v, v))
    if (n > 0) v.map(_ / n) else v
  }

  /**
   * Deterministic sampled k-means (spherical Lloyd on a bounded
   * hash-sample) producing [[ivfTopK]] centroids that track the
   * corpus's cluster structure — first-K centroids degrade IVF recall
   * on clustered data because several may land in one cluster.
   *
   * Scale shape: the ONLY cluster work is one narrow pass + a
   * size-bounded TakeOrdered (the `sampleSize` rows with the smallest
   * `xxhash64(seed, id)` — a deterministic, data-independent sample;
   * no `Date.now`/RNG, so reruns are bit-identical). Lloyd then runs
   * driver-side on ≤ sampleSize vectors: init = first k sample
   * vectors in hash order, assignment uses the SAME dot/|c| score as
   * ivfTopK's cell map (cosine-argmax-equivalent), centroids are
   * normalized means (spherical k-means), and an emptied cell keeps
   * its previous centroid. O(sampleSize·k·dims·iters) driver work —
   * milliseconds at practical sizes, independent of corpus scale.
   */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, sampleSize: Int = 4096, iters: Int = 10,
      seed: Long = 42L): Seq[Array[Double]] = {
    require(k >= 1, "k-means needs k >= 1")
    // null vectors carry no training signal and would NPE the
    // driver-side fold — sample only real embeddings, and let the
    // sample-size require below refuse clearly when too few remain
    val sample: Array[Array[Double]] = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy(xxhash64(lit(seed), col("id")), col("id"))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray)
    require(sample.length >= k,
      s"sample of ${sample.length} vectors cannot seed $k centroids")
    val dims = sample.head.length
    var cents = sample.take(k).map(_.clone())
    for (_ <- 0 until iters) {
      val norms = cents.map(c => math.sqrt(dotLocal(c, c)))
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < k) {
          val s = if (norms(i) > 0) dotLocal(v, cents(i)) / norms(i) else 0.0
          if (s > bestScore) { bestScore = s; best = i }
          i += 1
        }
        var d = 0
        while (d < dims) { sums(best)(d) += v(d); d += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map { i =>
        if (counts(i) == 0) cents(i)
        else normalizeLocal(sums(i).map(_ / counts(i)))
      }.toArray
    }
    cents.toSeq
  }

  /**
   * DISTRIBUTED Lloyd refinement — the full-corpus production pass a
   * 100 TB index runs after [[trainCentroids]]' sampled seeding (a
   * bounded sample positions centroids well, but only assignment over
   * ALL vectors lets every data point vote on its cell mean). Each
   * iteration is:
   *
   *   - cluster-side assignment: [[bestCentroid]] — K plan-constant
   *     dots per row, narrow, no shuffle (identical score to
   *     [[ivfTopK]]'s cell map, so the refined centroids are consistent
   *     with query-time assignment);
   *   - centroid update: per-(cell, dim) DECIMAL sums (the
   *     [[meanByGroup]] shape — order-independent, so reruns are
   *     bit-identical) with map-side partial aggregation; the shuffle
   *     carries ≤ K·dims rows, not the corpus;
   *   - normalized means on the driver (spherical k-means); an emptied
   *     cell keeps its previous centroid, like the sampled trainer.
   *
   * Cost: `iters` corpus scans, each a narrow pass plus a K·dims-row
   * exchange — corpus-scale-linear with no driver-side data movement
   * beyond the K·dims aggregate (the collect below is bounded by
   * centroids·dims rows by construction, NOT by corpus size).
   */
  def refineCentroids(corpus: DataFrame, vecCol: String,
      centroids: Seq[Array[Double]], iters: Int = 2): Seq[Array[Double]] = {
    require(centroids.nonEmpty, "refineCentroids needs a seed centroid set")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val k = centroids.length
    val dims = centroids.head.length
    var cents = centroids
    for (_ <- 0 until iters) {
      val best = bestCentroid(col(vecCol), cents)
      // ≤ k·dims rows by construction — small-by-contract collect
      val perDim = corpus
        .filter(col(vecCol).isNotNull)
        .select(cellOf(best).as("cell"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(sum(col("x").cast("decimal(28,10)")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Long](k)
      perDim.foreach { r =>
        val cell = r.getInt(0)
        sums(cell)(r.getInt(1)) = r.getDecimal(2).doubleValue()
        counts(cell) = r.getLong(3)
      }
      cents = cents.indices.map { i =>
        if (counts(i) == 0) cents(i)
        else normalizeLocal(sums(i).map(_ / counts(i)))
      }
    }
    cents
  }

  /** The production trainer: sampled Lloyd seed ([[trainCentroids]])
    * + `refineIters` full-corpus [[refineCentroids]] rounds. */
  def trainCentroidsDistributed(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, sampleSize: Int = 4096, sampleIters: Int = 10,
      refineIters: Int = 2, seed: Long = 42L): Seq[Array[Double]] =
    refineCentroids(corpus, vecCol,
      trainCentroids(corpus, idCol, vecCol, k, sampleSize, sampleIters, seed),
      refineIters)

  /**
   * IVF-flat top-k — the clustered alternative to LSH bucketing:
   * every corpus vector is ASSIGNED to its nearest centroid (one
   * narrow pass over literal centroids — no shuffle, the centroid
   * matrix ships with the plan like the LSH planes), and a query only
   * scans the candidate lists of its `nprobe` best cells before the
   * exact cosine rerank. Candidate cost ≈ nprobe/K of the corpus per
   * query — the IVF recall/cost dial.
   *
   * Centroids here are caller-provided (the oracle query samples the
   * first K corpus vectors — deterministic and honest about being a
   * baseline; [[trainCentroids]] is the k-means seam). Query probes
   * are computed DRIVER-side (bit-identical fold) and ride the plan as
   * a literal ([[ivfProbe]]), since the query set is small by contract
   * while the corpus-side assignment must stay narrow.
   *
   * Assignment score is `dot(v, cᵢ) / |cᵢ|` — argmax-equivalent to
   * cosine (|v| is a positive per-row constant that cannot flip the
   * ordering; an all-zero v scores 0 everywhere either way) but ONE
   * VectorDot per centroid: centroid norms are driver-side plan
   * constants, and the K scores are built into a single
   * array<struct<s,ni>> whose array_max picks (max score, smallest
   * index) — no `greatest`/when-chain re-evaluating each cosine, and
   * K = 1 works. The oracle mirrors the same score formula, so
   * float-rounding ties break identically.
   *
   * Ties everywhere break toward the smaller index/id, so results are
   * deterministic and engine-portable.
   */
  /**
   * Norm-free argmax cell assignment: the winning centroid's
   * `array<struct<s, ni>>` max — max score `dot(v, cᵢ)/|cᵢ|` first,
   * then max(-i) = smallest index on float ties. The coalesce on the
   * cell is a NULLABILITY marker, not a fallback: array_max types as
   * nullable even over this never-empty literal array, and a nullable
   * join key makes the optimizer infer an isnotnull(cell) Filter that
   * re-evaluates all K dots a second time per row (observed via
   * explain); the non-nullable coalesce suppresses it. Shared by
   * [[ivfTopK]] (cell only) and [[clusterSizes]] (cell + score — the
   * two struct-field reads collapse to one evaluation under codegen
   * subexpression elimination).
   */
  private def bestCentroid(vec: Column, centroids: Seq[Array[Double]]): Column = {
    require(centroids.nonEmpty, "centroid assignment needs at least one centroid")
    val norms = centroids.map(c => math.sqrt(dotLocal(c, c)))
    val scores = centroids.zip(norms).map { case (c, n) =>
      if (n > 0) dot(vec, typedLit(c.toSeq)) / lit(n) else lit(0.0)
    }
    array_max(array(scores.zipWithIndex.map { case (s, i) =>
      struct(s.as("s"), lit(-i).as("ni")) }: _*))
  }

  /** Non-nullable winning cell index from a [[bestCentroid]] struct. */
  private def cellOf(best: Column): Column =
    coalesce(-best.getField("ni"), lit(0))

  /**
   * Cluster-size histogram under nearest-centroid assignment: one
   * narrow assignment pass (K dots per row, no shuffle) then a
   * map-side-combining groupBy on the K-valued cell key — the
   * diagnostic a mixture/balance pipeline runs after [[trainCentroids]]
   * to audit cluster balance. `mean_score` is the per-cell mean
   * assignment score, summed in DECIMAL (order-independent) and
   * divided as double, so it is deterministic and oracle-portable.
   */
  /**
   * Per-vector nearest-centroid assignment — the ROUTING table a
   * mixture/curriculum pipeline consumes ([[clusterSizes]] is its
   * histogram): one narrow K-dot pass emitting (id, cell, score), no
   * shuffle at any corpus size. Same argmax/tie-break as [[ivfTopK]]'s
   * cell map, so routing and query-time probing agree.
   */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]]): DataFrame = {
    val best = bestCentroid(col(vecCol), centroids)
    corpus.select(col(idCol), cellOf(best).as("cell"),
      round(best.getField("s"), 6).as("score"))
  }

  def clusterSizes(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]]): DataFrame = {
    val best = bestCentroid(col(vecCol), centroids)
    corpus.select(cellOf(best).as("cell"), best.getField("s").as("score"))
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n_vectors"),
        round(sum(col("score").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("mean_score"))
  }

  def ivfTopK(corpus: DataFrame, queries: Seq[(Long, Array[Double])],
      idCol: String, vecCol: String, centroids: Seq[Array[Double]],
      nprobe: Int, k: Int): DataFrame = {
    require(centroids.nonEmpty, "ivfTopK needs at least one centroid")
    val cell = cellOf(bestCentroid(col(vecCol), centroids))
    val assigned = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("nv"), cell.as("cell"))
    // no cell pre-filter here: over an IN-QUERY assignment the
    // isInCollection guard would re-evaluate the K-dot argmax a second
    // time per row (filter + project); pruning pays only when the cell
    // is a MATERIALIZED column ([[ivfTopKAssigned]])
    ivfProbe(assigned, queries, centroids, nprobe, k, pruneCells = false)
  }

  /** (id, vec, cell) assignment — the WRITE side of the at-rest IVF
    * layout ([[graft.ann.IvfIndex]]): same argmax/tie-break as
    * [[ivfTopK]]'s in-query cell map, so the materialized cells and
    * query-time probing agree. */
  def assignWithVectors(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]]): DataFrame =
    corpus.select(col(idCol), col(vecCol),
      cellOf(bestCentroid(col(vecCol), centroids)).as("cell"))

  /**
   * SEMANTIC dedup (SemDeDup — Abbas et al., "SemDeDup: Data-efficient
   * learning at web-scale through semantic deduplication", 2023):
   * cluster the corpus by nearest centroid, then within each cluster
   * drop every vector that has a LOWER-id cluster-mate above the
   * cosine threshold — the paper's upper-triangular keep rule, which
   * keeps exactly one representative (the lowest id) per group of
   * mutually-similar items without a transitive-closure pass. Unlike
   * the LSH near-dup family (recall-tuned random buckets), the
   * clustering here is the SEMANTIC partition a curation pipeline
   * already maintains, and the verdict is per-ITEM (kept/dropped), not
   * per-pair.
   *
   * Output: (id, cell, dropped, shadow_id, max_sim) — `shadow_id` the
   * smallest retained-or-not lower id that shadows this vector (null
   * when kept), `max_sim` its strongest within-cell similarity.
   *
   * Scale shape: the quadratic step is CELL-blocked — O(Σ|cell|²)
   * instead of O(n²) — and the cell count K is the dial that bounds
   * it (the paper runs K ≈ n/100k; here K = centroids.length). The
   * join shuffles by cell key; at production scale the assignment is
   * the MATERIALIZED at-rest IVF layout ([[assignWithVectors]] +
   * [[graft.ann.IvfIndex]]), so the pair join reads cell-local files
   * with no assignment recompute and the one remaining exchange
   * carries only the materialized cell key
   * ([[graft.ann.IvfIndex.semanticDedup]] / q_dedup_semantic_trained).
   * Tie-break and argmax
   * are [[ivfTopK]]'s, so dedup and probing agree on the partition.
   */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]], threshold: Double): DataFrame =
    semanticDedupAssigned(
      assignWithVectors(
        corpus.filter(col(vecCol).isNotNull), idCol, vecCol, centroids),
      idCol, vecCol, threshold)

  /** The SemDeDup shadow rule over a PRE-ASSIGNED (id, vec, cell)
    * frame — the production form: when `assigned` is the at-rest IVF
    * corpus ([[graft.ann.IvfIndex.semanticDedup]]), the per-row K-dot
    * assignment pass disappears entirely and the one remaining
    * exchange hashes the (cell, id, vec) rows by their materialized
    * cell key. Verdicts are identical to [[semanticDedup]] on the same
    * centroids (floats round-trip parquet exactly) — pinned by
    * SemanticDedupSpec's at-rest equality case. */
  def semanticDedupAssigned(assigned: DataFrame, idCol: String,
      vecCol: String, threshold: Double): DataFrame = {
    val left = assigned.select(col("cell"), col(idCol).as("a_id"),
      col(vecCol).as("av"))
    val right = assigned.select(col("cell"), col(idCol).as("b_id"),
      col(vecCol).as("bv"))
    val shadows = left.join(right, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", cosine(col("av"), col("bv")))
      .filter(col("cos") >= threshold)
      .groupBy(col("b_id").as(idCol))
      .agg(min("a_id").as("shadow_id"),
        round(max("cos"), 6).as("max_sim"))
    assigned.select(col(idCol), col("cell"))
      .join(shadows, Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        col("shadow_id").isNotNull.as("dropped"),
        col("shadow_id"), col("max_sim"))
  }

  /**
   * IVF probe over a PRE-ASSIGNED corpus (neighbor_id, nv, cell) — the
   * READ path of the at-rest layout: cells were materialized at index-
   * build time, so the probe's `cell IN (probe cells)` filter prunes
   * whole cell partitions at the scan (nprobe/K of the files) and the
   * per-row K-dot assignment pass disappears entirely. Query probe
   * cells are computed DRIVER-side with the bit-identical fold, like
   * [[ivfTopK]].
   */
  def ivfTopKAssigned(assigned: DataFrame, queries: Seq[(Long, Array[Double])],
      centroids: Seq[Array[Double]], nprobe: Int, k: Int): DataFrame =
    ivfProbe(assigned, queries, centroids, nprobe, k, pruneCells = true)

  /** The probe shared by [[ivfTopK]] and [[ivfTopKAssigned]]. The
    * probe set is known on the driver, so it rides the plan as a
    * literal `cell → [(query_id, qv)]` map: each corpus row looks up
    * its own cell and explodes that cell's probes (a cell no query
    * probes looks up null and yields no rows). No broadcast exchange
    * and no join — the scored rows come straight off the narrow
    * assignment pass. The literal holds |queries|·nprobe vectors, the
    * same order as the K·dims centroid literal [[bestCentroid]]
    * already ships with the plan; a query set too large for that
    * belongs in [[bruteForceTopK]]'s broadcast shape. */
  private def ivfProbe(assigned: DataFrame, queries: Seq[(Long, Array[Double])],
      centroids: Seq[Array[Double]], nprobe: Int, k: Int,
      pruneCells: Boolean): DataFrame = {
    require(centroids.nonEmpty, "ivfTopK needs at least one centroid")
    val norms = centroids.map(c => math.sqrt(dotLocal(c, c)))
    val byCell: Map[Int, Seq[(Long, Seq[Double])]] = queries
      .flatMap { case (qid, qv) =>
        val cs = centroids.zip(norms).map { case (c, n) =>
          if (n > 0) dotLocal(qv, c) / n else 0.0 }
        val order = cs.indices.sortBy(i => (-cs(i), i))
        order.take(nprobe).map(cid => (cid, (qid, qv.toSeq)))
      }
      .groupBy(_._1).map { case (cid, ps) => cid -> ps.map(_._2) }
    // static partition pruning: the probed cell set is known on the
    // driver, so non-probed cell PARTITIONS of the at-rest layout
    // never even reach the scan
    val base =
      if (pruneCells) assigned.filter(col("cell").isInCollection(byCell.keys.toSeq.sorted))
      else assigned
    val scored = base
      .select(col("neighbor_id"), col("nv"),
        explode(typedLit(byCell).apply(col("cell"))).as("p"))
      .select(col("p._1").as("query_id"), col("p._2").as("qv"),
        col("neighbor_id"), col("nv"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    rankTopK(scored, k)
  }

  /**
   * Multi-band near-dup pairs — the billion-vector path. A single
   * plane set faces a hard trade: more planes shrink buckets (cost)
   * but multiply away recall (P[collide] = (1−θ/π)^planes). Banding
   * OR-amplifies instead (the MinHash-band trade): `bands` INDEPENDENT
   * plane sets of `planesPerBand` each; a pair is a candidate if it
   * collides in ANY band (P = 1−(1−p^r)^B), then exact cosine
   * verifies. planesPerBand bounds per-band bucket size; bands buys
   * recall back at linear cost — both dials scale independently of
   * corpus size.
   *
   * Shape: bucket assignment is one narrow pass (bands×planes literal
   * hyperplanes, native VectorDot); candidates are per-band equi-joins
   * on (band, bucket) — bounded fan-out — whose rows carry the vector,
   * each pair kept once ([[embedBandJoin]]), so it pays ONE cosine
   * with no `distinct` and no join-back. Null vectors pair with nothing
   * (their cosine is 0, below any positive threshold).
   *
   * Band b's planes are globally indexed [b·r, (b+1)·r) in the shared
   * LCG, so band 0 with r planes IS the single-band bucketing — banded
   * candidates strictly contain the single-band candidates (spec'd).
   */
  def bandedNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      bands: Int, planesPerBand: Int, dims: Int, threshold: Double): DataFrame = {
    val b = embedBandRows(corpus, idCol, vecCol, "id", bands, planesPerBand, dims)
    embedBandJoin(b, b, bands, planesPerBand, dims, threshold)
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        round(col("cos"), 6).as("cos"))
  }

  // ------------------------------------------- standing embedding index
  /**
   * Exploded (idName, v, band, bucket) rows of the banded LSH
   * assignment — the standing-index/probe generator (the vector rides
   * with its band rows, so the probe verify needs no join-backs; the
   * same instructions-per-collision-vs-two-joins trade the SimHash
   * probe makes). Null vectors are dropped up front: [[cosine]] guards
   * them to 0 so they can never reach a positive threshold, but every
   * one of them would land in bucket 0 of every band — the degenerate
   * mega-bucket the text funnel's null-signature guard exists for.
   */
  private def embedBandRows(df: DataFrame, idCol: String, vecCol: String,
      idName: String, bands: Int, planesPerBand: Int, dims: Int): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as(idName), col(vecCol).as("v"),
        posexplode(array(bandBuckets(col(vecCol), bands, planesPerBand, dims): _*))
          .as(Seq("band", "bucket")))

  /** Band b's bucket of `v`: planes [b·r, (b+1)·r) of the shared LCG. */
  private def bandBuckets(v: Column, bands: Int, planesPerBand: Int,
      dims: Int): Seq[Column] =
    (0 until bands).map(b => lshBucket(v, planesPerBand, dims, b * planesPerBand))

  /** The banded join of the self-join and probe faces over
    * [[embedBandRows]] frames: x ⋈ y on (band, bucket) under
    * [[graft.dedup.Dedup.isFirstSharedBand]] (buckets recomputed from
    * x.v / y.v), with `cos` ≥ `threshold`. */
  private def embedBandJoin(x: DataFrame, y: DataFrame, bands: Int,
      planesPerBand: Int, dims: Int, threshold: Double): DataFrame = {
    def buckets(side: String) =
      bandBuckets(col(s"$side.v"), bands, planesPerBand, dims)
    x.as("x").join(y.as("y"), Seq("band", "bucket"))
      .filter(graft.dedup.Dedup.isFirstSharedBand(
        buckets("x"), buckets("y"), col("band")))
      .withColumn("cos", cosine(col("x.v"), col("y.v")))
      .filter(col("cos") >= threshold)
  }

  /**
   * The STANDING banded-LSH index over the corpus embeddings — the
   * vector-side member of the probe-against-corpus family
   * (exact hash / MinHash-Jaccard / SimHash-Hamming / embedding-
   * cosine), closing the one asymmetry the family had: an ingest
   * stack gating on embedding near-dup no longer rebuilds LSH buckets
   * per batch. |corpus|·bands narrow (corpus_id, v, band, bucket)
   * rows, computed and persisted ONCE per corpus snapshot; the release
   * handle drops the cache when the snapshot is superseded. At rest,
   * bucket (band, bucket) is also the natural bucketed-write key
   * (graft.sources.Bucketed) so repeated probes never reshuffle the
   * index.
   */
  def corpusEmbedIndex(corpus: DataFrame, idCol: String, vecCol: String,
      bands: Int, planesPerBand: Int, dims: Int): (DataFrame, () => Unit) = {
    val c = embedBandRows(corpus, idCol, vecCol, "corpus_id",
      bands, planesPerBand, dims).persist()
    (c, () => { c.unpersist(); () })
  }

  /**
   * Probe a [[corpusEmbedIndex]] with one incoming batch: batch band
   * rows equi-join the index on (band, bucket) and exact cosine
   * verifies each colliding pair of rows once ([[embedBandJoin]]) —
   * one row per matching pair with its cosine. The
   * batch side is single-use (|batch|·bands rows), so nothing needs
   * caching or releasing. OR-amplified recall across bands, exactly
   * like [[bandedNearDupPairs]]'s within-corpus candidates.
   */
  def probeEmbedIndex(batch: DataFrame, corpusIndex: DataFrame,
      idCol: String, vecCol: String, bands: Int, planesPerBand: Int,
      dims: Int, threshold: Double): DataFrame = {
    val b = embedBandRows(batch, idCol, vecCol, "batch_id",
      bands, planesPerBand, dims)
    embedBandJoin(b, corpusIndex, bands, planesPerBand, dims, threshold)
      .select(col("batch_id"), col("corpus_id"), round(col("cos"), 6).as("cos"))
  }

  /** One-shot convenience composing [[corpusEmbedIndex]] +
    * [[probeEmbedIndex]]; the release handle drops the standing index.
    * A caller probing the same corpus repeatedly (a stream) should
    * build the index once and pay only the batch side per probe. */
  def incrementalEmbedNearDup(batch: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, bands: Int, planesPerBand: Int,
      dims: Int, threshold: Double): (DataFrame, () => Unit) = {
    val (idx, release) = corpusEmbedIndex(corpus, idCol, vecCol,
      bands, planesPerBand, dims)
    (probeEmbedIndex(batch, idx, idCol, vecCol, bands, planesPerBand,
      dims, threshold), release)
  }

  /**
   * Approximate kNN GRAPH over the whole corpus — the input to
   * cluster/community detection and diversity-aware sampling: each
   * vector's top-k cosine neighbors among the vectors sharing its LSH
   * bucket. The all-pairs kNN graph is O(n²) at any scale; bucketing
   * bounds the candidate set per vector at the usual recall cost, and
   * `numPlanes` should come from [[adaptivePlanes]] so expected bucket
   * size (hence per-vertex candidate cost) stays constant as the
   * corpus grows. Rank ties break toward the smaller neighbor id;
   * vectors alone in their bucket emit no edges.
   *
   * Scale shape: narrow bucket assignment (plan-constant planes), one
   * equi-join on bucket with bounded fan-out, and the per-vertex rank
   * runs partial+final WindowGroupLimit so the top-k shuffle carries
   * O(n·k) rows, not the candidate set.
   */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, dims: Int, k: Int): DataFrame = {
    val b = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      lshBucket(col(vecCol), numPlanes, dims).as("bucket"))
    val w = Window.partitionBy("src")
      .orderBy(col("cos").desc, col("dst").asc)
    b.as("x").join(b.as("y"), Seq("bucket"))
      .filter(col("x.id") =!= col("y.id"))
      .select(col("x.id").as("src"), col("y.id").as("dst"),
        cosine(col("x.v"), col("y.v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src"), col("rank"), col("dst"),
        round(col("cos"), 6).as("cos"))
  }

  // ---------------------------------------------------------------- project
  /**
   * Johnson-Lindenstrauss random projection to `projDims` dimensions:
   * component j = dot(v, w_{planeOffset+j}) / sqrt(projDims), with the
   * same LCG hyperplane family as [[lshBucket]] (planeOffset keeps the
   * projection planes disjoint from any bucketing planes in the same
   * pipeline). The dimensionality dial for downstream clustering /
   * near-dup passes: distances are preserved to (1±ε) while the
   * per-vector cost drops dims/projDims-fold.
   *
   * Emits one row per (id, dim) with the projected value rounded to
   * 6 dp, so the result is directly comparable across engines. Scale
   * shape: narrow generate-only pass — the projDims×dims plane matrix
   * is a plan constant, nothing shuffles at any corpus size.
   */
  def randomProject(vecs: DataFrame, idCol: String, vecCol: String,
      projDims: Int, dims: Int, planeOffset: Int): DataFrame = {
    require(projDims > 0, s"projDims must be positive, got $projDims")
    val scale = math.sqrt(projDims.toDouble)
    val comps = (0 until projDims).map { j =>
      round(dot(col(vecCol), typedLit(planeWeights(planeOffset + j, dims)))
        / lit(scale), 6)
    }
    vecs.filter(col(vecCol).isNotNull)
      .select(col(idCol), posexplode(array(comps: _*)).as(Seq("__j", "value")))
      .select(col(idCol), (col("__j") + 1).cast("long").as("dim"), col("value"))
  }

  // ---------------------------------------------------------------- pooling
  /**
   * Per-group mean embedding — class prototypes / cluster centroids by
   * label: explode each vector to (group, dim, value), sum in DECIMAL
   * (exact, order-independent — a double sum's value depends on
   * reduction order and is NOT engine-portable), divide as double.
   * Emits one row per (group, dim) so the result is flat-comparable.
   *
   * Scale shape: the explode fans out ×dims but map-side partial
   * aggregation collapses each partition to its (group, dim) partials
   * before the exchange — the shuffle carries |groups|·dims rows, not
   * the corpus. The standard prototype/centroid-update pass of a
   * label-conditioned pipeline.
   */
  def meanByGroup(vecs: DataFrame, groupCol: String, vecCol: String): DataFrame =
    vecs
      .filter(col(vecCol).isNotNull)
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .select(col(groupCol), (col("__pos").cast("long") + 1).as("dim"),
        col("__v").cast("double").as("__v"))
      .groupBy(groupCol, "dim")
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(col("__v").cast("decimal(28,10)")).cast("double") /
          count(lit(1)), 6).as("mean_val"))

  // ---------------------------------------------------------------- quantize
  /**
   * Per-vector int8 scalar quantization — the memory dial for a
   * billion-vector index (4 bytes/dim → 1): each vector maps its own
   * [min, max] range onto the 0..255 code grid,
   * `code = round((v − min)·255 / (max − min))`, and dequantizes as
   * `min + code·(max − min)/255`. Emits one row per element with its
   * code and the absolute reconstruction error (rounded to 6 dp), so
   * the error distribution is directly queryable; constant vectors
   * (max == min) code to 0 and reconstruct exactly.
   *
   * Every arithmetic step is fixed-order IEEE double (floats widened
   * exactly), so the codes are engine-portable — the DuckDB oracle
   * states the identical expression. Scale shape: narrow generate-only
   * pass, no shuffle at any corpus size.
   */
  def scalarQuantize(vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dv = transform(col(vecCol), _.cast("double"))
    vecs
      .filter(col(vecCol).isNotNull)
      .select(col(idCol), dv.as("__v"),
        array_min(dv).as("mn"), array_max(dv).as("mx"))
      .select(col(idCol), col("mn"), col("mx"),
        posexplode(col("__v")).as(Seq("__pos", "v")))
      .withColumn("i", col("__pos").cast("long") + 1)
      .withColumn("code", when(col("mx") > col("mn"),
        round((col("v") - col("mn")) * 255.0 / (col("mx") - col("mn"))).cast("long"))
        .otherwise(lit(0L)))
      .withColumn("recon",
        col("mn") + col("code") * (col("mx") - col("mn")) / 255.0)
      .select(col(idCol), col("i"), col("v"), col("code"),
        round(abs(col("v") - col("recon")), 6).as("abs_err"))
  }
}
