package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{PointReads, StandingStore, TableSpec}

/**
 * PERSISTED banded-LSH embedding index — the EMBEDDING twin of
 * [[graft.dedup.SignatureIndex]], closing the one restart asymmetry
 * the at-rest family had: the text lane's signatures survive the
 * session, but an embed-gated loop probing the session-RAM
 * [[Similarity.corpusEmbedIndex]] re-hashes every corpus embedding on
 * restart — exactly the once-per-document work this table makes
 * durable. Built on the shared [[graft.sources.StandingStore]]
 * lifecycle (leased build verbs, batch-keyed replay-idempotent folds,
 * settled-only staged-swap compaction), and honoring the
 * [[graft.dedup.SignatureIndex]] probe-read contract by construction:
 *
 * Layout under `path` (layout 2 — recorded in the sidecar):
 * {{{
 *   _params.json        (bands, planesPerBand, dims, layout) — the LSH
 *                       family is part of the table's identity; a probe
 *                       with different planes would hash into garbage, so
 *                       consumers READ the family instead of repeating it
 *   vecs/__batch=<b>/   (doc_id, v), doc_id-sorted inside files — the
 *                       whole-corpus face ([[open]]: fsck id drift,
 *                       lockstep views, downstream vector consumers)
 *   buckets/__batch=<b>/ (bkey, doc_id, v), bkey-sorted, small pages —
 *                       bkey packs (band, bucket) into one LONG; each
 *                       row CARRIES the vector that hashed to it
 * }}}
 *
 * Bucket rows carry their vectors — the posting-list layout every
 * production ANN index uses (Faiss IVF stores the vectors IN the
 * inverted lists): the candidate and its verify payload arrive in ONE
 * point read, so [[probe]] is exactly TWO serial single-stage collects
 * instead of three (bucket pages no longer chain into a second
 * candidate-vector read). The storage cost is the banding trade made
 * explicit: each vector is stored once per band (`bands ×` vector
 * bytes), which is also exactly the row count the bucket table always
 * had — only the row width changed. This is ALSO what makes the
 * at-rest table the true persisted twin of
 * [[Similarity.corpusEmbedIndex]] (whose in-RAM index rows are
 * `(corpus_id, v, band, bucket)`): both probes verify the COLLIDING
 * version's vector, so a re-embedded doc (same id folded again with a
 * new vector) scores each version through its own bucket collisions —
 * the previous layout verified every at-rest version of a candidate
 * id regardless of which collided, a divergence from the in-RAM
 * contract that EmbedIndexSpec now pins closed.
 *
 * [[probe]] reads the PROBED BUCKETS' pages, never the corpus:
 * candidates AND their vectors come from point reads of the matching
 * bucket pages ([[graft.sources.PointReads.keyedFilter]] over the
 * batch's ≤ |batch|·bands bucket keys) — so the per-call read is
 * `O(|batch| · bucket occupancy)`. Bucket occupancy is the LSH
 * dials' job ([[Similarity.adaptivePlanes]]): the shared LCG plane
 * family saturates near ~2^10 effective buckets (its weights are an
 * arithmetic progression), so the per-bucket row count — hence the
 * probe's read — grows once a corpus outruns the family's
 * resolution; shard such a corpus across band sets or roots. Above
 * either driver cap the call falls back to the scan-shaped
 * [[probeAtRest]] — same rows, the cap only picks which side pays.
 * Probe ≡ the in-RAM [[Similarity.probeEmbedIndex]] and the
 * cross-session fold loop are pinned in EmbedIndexSpec; read
 * flatness under 10× off-bucket growth in the scale smoke.
 */
object EmbedIndex {

  /** Base-snapshot marker in the `__batch` partition column. */
  val BaseBatch: Long = StandingStore.BaseBatch

  /** The LSH family a table was built with — persisted at write,
    * read back by every probe ([[readParams]]). */
  final case class Params(bands: Int, planesPerBand: Int, dims: Int) {
    require(bands >= 1 && planesPerBand >= 1 && dims >= 1,
      s"invalid LSH family: bands=$bands planes=$planesPerBand dims=$dims")
    require(planesPerBand <= 40,
      s"planesPerBand=$planesPerBand overflows the packed bucket key " +
        "(band·2^40 + bucket)")
  }

  private def store(path: String) = new StandingStore(path, Seq(
    // vecs carries the page-row limit too: at small dims a vector row
    // is tens of bytes, and parquet's byte-based page flush would put
    // the whole table in one page — no page left to skip. At large
    // dims the byte flush wins first and the limit is inert.
    TableSpec("vecs", "doc_id LONG, v ARRAY<FLOAT>, __batch LONG",
      Seq("doc_id"), pageRowLimit = Some(PointReads.PageRowLimit),
      retractCol = Some("doc_id")),
    // bucket rows are vecs rows × bands AND carry the vector (the
    // posting-list layout — see the class doc), so bucket bytes ≈
    // bands × vecs bytes; file counts still size off the sibling vecs
    // dir (the only dir standing when the base lands), at a target
    // small enough that the fat actual files stay reasonable:
    // 16 MB of vecs bytes per file ⇒ ~bands·16 MB actual file size.
    TableSpec("buckets", "bkey LONG, doc_id LONG, v ARRAY<FLOAT>, __batch LONG",
      Seq("bkey"), pageRowLimit = Some(PointReads.PageRowLimit),
      targetFileBytes = 16L << 20, sizeFrom = Some("vecs"),
      retractCol = Some("doc_id"))))

  /** Collision-free scratch location for the harness. */
  def scratchPath(sourceDir: String): String =
    graft.Scratch.path("graft_embidx", sourceDir)

  // ------------------------------------------------------ params sidecar

  private def paramsFile(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_params.json")

  private def writeParams(spark: SparkSession, path: String,
      p: Params): Unit = {
    val f = paramsFile(path)
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(f, true)
    try out.write(
      (s"""{"bands":${p.bands},"planes_per_band":${p.planesPerBand},""" +
        s""""dims":${p.dims},"layout":$Layout}""").getBytes("UTF-8"))
    finally out.close()
  }

  /** On-disk layout version the code reads and writes. 2 = bucket
    * rows carry their vectors (the posting-list layout); 1 = the
    * retired narrow `(bkey, doc_id)` layout. A layout-1 table read
    * through the layout-2 schema would silently yield NULL vectors
    * (parquet reads absent columns as null) and score every candidate
    * 0.0 — so [[readParams]] refuses it loudly instead: the probe,
    * fold, and compaction verbs all pass through it before touching
    * data. */
  val Layout: Int = 2

  private def sidecarJson(spark: SparkSession, path: String): Option[String] = {
    val f = paramsFile(path)
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(f)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(f).getLen.toInt)
      val in = fs.open(f)
      try in.readFully(0, buf) finally in.close()
      Some(new String(buf, "UTF-8"))
    }
  }

  private def sidecarNum(json: String, k: String): Option[Int] =
    s""""$k":\\s*(\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toInt)

  /** Layout version of the table at `path`: `Some(1)` for a
    * pre-vector-carrying bucket layout (no `layout` key), `None` when
    * no params sidecar stands at all (not an EmbedIndex root, or a
    * build torn before [[write]]'s sidecar landed). Never throws —
    * the report-only face ([[graft.pipeline.Fsck]]) surfaces a stale
    * layout as a finding instead of dying on it. */
  def layoutVersion(spark: SparkSession, path: String): Option[Int] =
    sidecarJson(spark, path).map(j => sidecarNum(j, "layout").getOrElse(1))

  private def paramsOf(path: String, json: String): Params = {
    def num(k: String): Int =
      sidecarNum(json, k).getOrElse(throw new IllegalStateException(
        s"${paramsFile(path)} holds no '$k' — not an EmbedIndex root?"))
    Params(num("bands"), num("planes_per_band"), num("dims"))
  }

  /** The LSH family the table at `path` was built with. Refuses a
    * pre-[[Layout]] table — migrate it in place with
    * [[migrateLayout]] (one pass over the vecs table, the corpus is
    * never read), or rebuild with [[write]]. */
  def readParams(spark: SparkSession, path: String): Params = {
    val json = sidecarJson(spark, path).getOrElse(
      throw new IllegalStateException(
        s"${paramsFile(path)} does not exist — not an EmbedIndex root?"))
    val layout = sidecarNum(json, "layout").getOrElse(1)
    require(layout == Layout,
      s"embed index at $path has layout $layout; this build reads layout " +
        s"$Layout (bucket rows carry their vectors) — migrate in place " +
        "with EmbedIndex.migrateLayout, or rebuild with EmbedIndex.write")
    paramsOf(path, json)
  }

  /**
   * IN-PLACE layout migration (1 → [[Layout]]): re-derive the bucket
   * table from the standing VECS table (whose layout never changed)
   * and the persisted LSH family — per `__batch` partition, so the
   * base stays the base, every fold stays its own replay-idempotent
   * partition, and tombstones/watermarks are untouched. One pass over
   * vecs; the corpus is never read — at 100 TB that is the difference
   * between a migration and a rebuild. Returns false (no-op) when the
   * table already reads [[Layout]].
   *
   * Crash-safe in the staged-swap discipline: the rebuilt buckets
   * stage fully under `.compact/`, swap in ([[graft.sources.DirSwap]]
   * handles a single-table swap), and the sidecar bumps strictly
   * AFTER the swap commits — a crash anywhere leaves either the old
   * (still-refusing) table or an inert staging the re-run overwrites;
   * no reader ever sees layout-2 declared over layout-1 rows. Runs
   * under the root's lease like every build verb.
   */
  def migrateLayout(spark: SparkSession, path: String): Boolean =
    migrateLayoutHooked(spark, path)(_ => ())

  /** [[migrateLayout]] with a step hook — the crash-injection seam the
    * crash-matrix spec drives (the [[graft.sources.DirSwap
    * .commitSwaps]] pattern). The hook fires after the named step
    * completes — "staged" (rebuilt buckets fully landed under
    * `.compact/`, swap not yet committed) and "swapped" (live buckets
    * replaced, sidecar not yet bumped) — so a THROWING hook models a
    * crash at exactly that boundary. Production code calls
    * [[migrateLayout]]; the default hook is a no-op. */
  private[graft] def migrateLayoutHooked(spark: SparkSession,
      path: String)(onStep: String => Unit): Boolean = {
    val json = sidecarJson(spark, path).getOrElse(
      throw new IllegalStateException(
        s"${paramsFile(path)} does not exist — not an EmbedIndex root?"))
    if (sidecarNum(json, "layout").getOrElse(1) == Layout) return false
    val p = paramsOf(path, json)
    val s = store(path)
    s.withLease(spark) {
      s.recoverSwap(spark)
      // the SHARED derivation (bucketRows) with __batch threaded
      // through, so a migrated table's bucket rows can never disagree
      // with fold-time bucket rows
      val rebuilt = bucketRows(s.openRaw(spark, "vecs"), "doc_id", "v",
        "doc_id", p, extra = Seq("__batch"))
        .select(col("bkey"), col("doc_id"), col("v"), col("__batch"))
      s.landStaging(rebuilt, "buckets", s.fileCount(spark, "buckets"))
      onStep("staged")
      graft.sources.DirSwap.swapStaged(spark, path, Seq("buckets"))
      // the crash boundary the matrix drives sits HERE — before the
      // empty-dir restore below, so the injected "swapped" crash also
      // models dying between the swap and the restore; benign for the
      // same reason as the un-bumped sidecar (still refusing, and the
      // re-run re-stages, re-swaps, and re-restores), but only because
      // the restore runs BEFORE writeParams — moving it after would
      // make a missing empty fold dir permanent and untested
      onStep("swapped")
      // the rebuild derives bucket rows from vecs ROWS, so a fold that
      // landed ZERO bucket rows (an all-null-vector batch — landFold's
      // explicit empty-dir mkdirs) would vanish from buckets' partition
      // listing: recreate those empty dirs so "folds land in lockstep
      // across a root's tables" survives the migration (the listing
      // invariant fsck's fold-skew check and foldCount read)
      val fs = paramsFile(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val standing = graft.sources.BatchPartitions
        .ids(spark, s"$path/buckets").toSet
      graft.sources.BatchPartitions.ids(spark, s"$path/vecs")
        .filterNot(standing).foreach { b =>
          fs.mkdirs(
            new org.apache.hadoop.fs.Path(s"$path/buckets/__batch=$b"))
          ()
        }
      writeParams(spark, path, p)
    }
    true
  }

  // ------------------------------------------------------- bucket rows

  /** Pack (band, bucket) into one LONG point-read key. */
  private def packedKey(band: Column, bucket: Column): Column =
    band.cast("long") * lit(1L << 40) + bucket

  /** (idName, v, bkey[, extra…]) rows of the banded LSH assignment —
    * the same family as [[Similarity.corpusEmbedIndex]] (band b's
    * planes are globally indexed [b·r, (b+1)·r) in the shared LCG).
    * Null vectors are dropped up front — every one would land in
    * bucket 0 of every band, the degenerate mega-bucket. `extra`
    * columns pass through untouched ([[migrateLayout]] threads
    * `__batch` so every bucket derivation — write, fold, migrate —
    * runs through THIS one body and can never drift). */
  private def bucketRows(df: DataFrame, idCol: String, vecCol: String,
      idName: String, p: Params, extra: Seq[String] = Nil): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(Seq(col(idCol).as(idName),
        col(vecCol).cast("array<float>").as("v")) ++ extra.map(col) :+
        posexplode(array((0 until p.bands).map(b =>
          Similarity.lshBucket(col(vecCol), p.planesPerBand, p.dims,
            b * p.planesPerBand)): _*))
          .as(Seq("band", "bucket")): _*)
      .select(Seq(col(idName), col("v"),
        packedKey(col("band"), col("bucket")).as("bkey")) ++
        extra.map(col): _*)

  // ---------------------------------------------------------- lifecycle

  /** Corpus-snapshot write: hash every embedding once, land the base
    * partitions and the params sidecar. Leased (the build verb). */
  def write(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, params: Params): Unit = {
    val s = store(path)
    val spark = corpus.sparkSession
    s.withLease(spark) {
      s.clearForRewrite(spark)
      writeParams(spark, path, params)
      // vectors normalize to array<float> at the boundary — the
      // at-rest dtype is part of the table's identity, whatever
      // width the caller's frame carried
      s.landBase(corpus.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("doc_id"),
          col(vecCol).cast("array<float>").as("v")), "vecs")
      // bucket rows derive from the JUST-WRITTEN vectors — each
      // embedding is hashed exactly once; range-partition so the base
      // is globally bkey-sorted from birth; rows keep the vector that
      // hashed (the posting-list layout, see the class doc)
      s.landBase(
        bucketRows(s.open(spark, "vecs"), "doc_id", "v", "doc_id", params)
          .select(col("bkey"), col("doc_id"), col("v")),
        "buckets", rangeFiles = Some(s.fileCount(spark, "buckets")))
    }
  }

  /** Fold one batch's embeddings as their own partitions —
    * batch-sized bytes, replay-idempotent (dynamic overwrite keyed by
    * the stream's batch id). */
  def foldBatch(path: String, batchDocs: DataFrame, idCol: String,
      vecCol: String, batchId: Long): Unit = {
    val s = store(path)
    val spark = batchDocs.sparkSession
    s.recoverSwapForWrite(spark)
    val p = readParams(spark, path)
    val vecs = batchDocs.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        col(vecCol).cast("array<float>").as("v"))
    s.landFold(vecs, "vecs", batchId)
    s.landFold(bucketRows(vecs, "doc_id", "v", "doc_id", p)
      .select(col("bkey"), col("doc_id"), col("v")), "buckets", batchId)
  }

  /** Finish a crashed [[compactThrough]] swap — the reader-first
    * preamble a probe-before-fold consumer runs. No-op when healthy. */
  def recoverSwap(spark: SparkSession, path: String): Unit =
    store(path).recoverSwap(spark)

  /** Retract documents by id — O(ids) tombstone write; [[open]] /
    * [[openBuckets]] filter immediately (both probe paths read the
    * bucket table through the store's open, whose `retractCol` filter
    * drops the ids' rows — candidate AND verify payload ride those
    * rows in the posting-list layout, so [[probe]] stops matching the
    * ids at once), the next compaction purges vec and bucket rows
    * physically ([[graft.sources.StandingStore.retract]]'s
    * contract). */
  def retract(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String, batchId: Long): Unit = {
    store(path).retract(ids, idCol, batchId)
  }

  /** The composed (doc_id, v) table — base + every fold. */
  def open(spark: SparkSession, path: String): DataFrame =
    store(path).open(spark, "vecs")

  /** [[open]] AS OF fold batch `throughBatch`
    * ([[graft.sources.StandingStore.openAt]]'s contract) — the
    * embedding leg of a cross-root consistent read
    * ([[graft.pipeline.IngestStream.lockstepView]]). */
  def openAt(spark: SparkSession, path: String,
      throughBatch: Long): DataFrame =
    store(path).openAt(spark, "vecs", throughBatch)

  /** Highest batch id ever folded (the store's shared verb — monotone
    * across compactions via the persisted marker). */
  def batchWatermark(spark: SparkSession, path: String): Long =
    store(path).batchWatermark(spark)

  /** The composed (bkey, doc_id, v) bucket table — [[probe]]'s
    * candidate-and-verify source (the posting-list layout, see the
    * class doc); exposed for the fsck/diagnostic face. Layout-guarded
    * like every bucket-reading verb: a pre-layout-2 table would read
    * its absent vector column as all-NULL here ([[readParams]]
    * refuses it instead). */
  def openBuckets(spark: SparkSession, path: String): DataFrame = {
    readParams(spark, path)
    bucketsTable(spark, path)
  }

  /** [[openBuckets]] minus the sidecar read — for the probe paths,
    * which have ALREADY paid readParams this call: the micro-batch
    * probe must not read the sidecar twice per probe (two extra
    * serial filesystem round-trips on exactly the latency path the
    * two-collect shape exists for). */
  private def bucketsTable(spark: SparkSession, path: String): DataFrame =
    store(path).open(spark, "buckets")

  // --------------------------------------------------------------- probe

  /**
   * The PRODUCTION probe — one batch of embeddings against the
   * at-rest table: candidates AND their colliding vectors point-read
   * from the bkey-sorted bucket pages in one leg, the exact-cosine
   * verify runs locally over them. Output ≡
   * [[Similarity.probeEmbedIndex]] against the same content
   * (EmbedIndexSpec pins it, including the re-embedded multi-version
   * case): (batch_id, corpus_id, cos), one row per matching pair,
   * cosine ≥ `threshold`, rounded to 6.
   *
   * Latency shape (VERDICT r14 #7 / r15 #4 / r16 #2): exactly TWO
   * serial single-stage point-read collects and nothing else — (1)
   * the batch's exploded band rows, which decide the cutover AND
   * carry everything downstream needs (the bkey set, the bkey →
   * batch-id map, the batch vectors — no second pass over the batch
   * lineage, no distributed distinct, no broadcast join); (2) the
   * matching bucket pages' rows, which carry the colliding corpus
   * vectors themselves (the posting-list layout — the former third
   * leg, a candidate-vector point read chained on leg 2's result, is
   * gone because its payload now rides leg 2). Pair expansion, the
   * exact-cosine verify ([[cosineLocalMin]] — the same IEEE ops in
   * the same order as the [[Similarity.cosine]] expression, with
   * Spark's own `round(_, 6)` BigDecimal HALF_UP semantics), and the
   * pair dedup all run on the driver over cap-bounded arrays, so the
   * returned frame is a LOCAL relation: a micro-batch probe costs two
   * tiny jobs, not a multi-stage shuffle plan — the fixed per-stage
   * scheduling latency was the whole cost at micro-batch sizes. The
   * at-rest paths and the in-RAM probe are pinned row-identical in
   * EmbedIndexSpec, which is what keeps the local arithmetic honest
   * against the expression path.
   *
   * Driver cost per call: ≤ `cap` collected rows per leg, each row at
   * most dims floats plus two longs. Above ANY leg's cap — including
   * the expanded candidate-pair count, a conservative, earlier
   * trigger — the call falls back to [[probeAtRest]]: same rows, the
   * cap only picks which side pays. (The first trigger bounds
   * exploded rows |batch|·bands rather than distinct bkeys, so
   * mid-size batches cut over to the scan a little sooner — by
   * design: the collect itself must stay cap-bounded.)
   */
  def probe(batch: DataFrame, path: String, idCol: String,
      vecCol: String, threshold: Double,
      cap: Int = PointReads.MaxKeys): DataFrame = {
    val spark = batch.sparkSession
    val p = readParams(spark, path)
    val b = bucketRows(batch, idCol, vecCol, "batch_id", p)
    def emptyResult = batch.select(col(idCol).as("batch_id"),
      col(idCol).as("corpus_id"), lit(0.0).as("cos")).limit(0)
    val bandRows = b.select(col("batch_id"), col("bkey"), col("v"))
      .limit(cap + 1).collect()
    if (bandRows.length > cap)
      return probeAtRest(batch, path, idCol, vecCol, threshold)
    if (bandRows.isEmpty) return emptyResult
    // bkey → the (batch_id, vector) pairs whose OWN band row hashed
    // there: each probe-side version meets exactly the buckets IT
    // collided with — the join paths' semantics (their band rows carry
    // their own v), so a duplicate batch id re-embedded within one
    // batch scores each version through its own collisions. (A map
    // keyed by batch id alone would pair every version with every
    // bucket ANY version hit — diverging from probeAtRest exactly at
    // the cap cutover; EmbedProbePropertySpec's duplicate-id batch
    // rows pin this shape.)
    val bkeyToProbe: Map[Long, Array[(Long, Array[Double])]] = bandRows
      .groupBy(_.getLong(1))
      .map { case (k, rs) =>
        k -> rs.map(r => (r.getLong(0), vecDoubles(r.getSeq[Any](2)).toArray)) }
    val keys: Seq[Any] = bkeyToProbe.keys.toArray.sorted.toSeq

    val hit = bucketsTable(spark, path)
      .filter(PointReads.keyedFilter(col("bkey"), keys))
      .select(col("bkey"), col("doc_id"), col("v"))
      .limit(cap + 1).collect()
    if (hit.length > cap)
      return probeAtRest(batch, path, idCol, vecCol, threshold)
    // the candidate-pair cap keeps the driver verify loop bounded the
    // way the retired third leg's collect was (≤ cap pairs verified)
    val nPairs = hit.iterator
      .map(r => bkeyToProbe(r.getLong(0)).length.toLong).sum
    if (nPairs > cap)
      probeAtRest(batch, path, idCol, vecCol, threshold)
    else if (hit.isEmpty) emptyResult
    else {
      // verify the COLLIDING version: each hit row carries the vector
      // that hashed to its bucket, so a re-embedded doc scores each
      // version through its own collisions — exactly the in-RAM
      // probeEmbedIndex join, whose index rows carry v the same way;
      // multi-band collisions collapse in the distinctBy below, as
      // the join plan keeps each pair at its first shared band. The threshold filter uses
      // SPARK's double ordering ([[sqlCompareDoubles]]), NOT Java's
      // primitive >=: a NaN cosine (an Inf-normed or NaN-poisoned
      // vector) passes `cos >= t` in Spark SQL and DuckDB alike (NaN
      // orders greatest), and the Java comparison silently dropped
      // those pairs — the one way the local path ever diverged from
      // the expression path (caught by EmbedProbePropertySpec).
      val out = (for {
        h <- hit.iterator
        vc = vecDoubles(h.getSeq[Any](2)).toArray
        cid = h.getLong(1)
        (bid, vb) <- bkeyToProbe(h.getLong(0)).iterator
        c = cosineLocalMin(vb, vc)
        if sqlCompareDoubles(c, threshold) >= 0
      } yield (bid, cid, round6(c))).toSeq
        // Spark's distinct groups NaN cosines together
        // (NormalizeFloatingNumbers); tuple == on a primitive NaN is
        // never-equal, so a plain .distinct would leak one duplicate
        // pair per extra NaN collision — dedup on canonical bits
        // (doubleToLongBits collapses every NaN to one bit pattern)
        .distinctBy { case (b2, c2, c) =>
          (b2, c2, java.lang.Double.doubleToLongBits(c)) }
      if (out.isEmpty) emptyResult
      else {
        import spark.implicits._
        out.toDF("batch_id", "corpus_id", "cos")
      }
    }
  }

  /** Collected `array<float>` → doubles with the EXPRESSION path's
    * degenerate-input semantics: a null ELEMENT reads as 0.0, exactly
    * as `ArrayData.getFloat` on a null slot does in
    * [[graft.functions.VectorOps.dotFF]] (UnsafeArrayData zeroes the
    * value region; Scala unboxing zeroes the generic case) — so the
    * cap cutover between [[probe]]'s local verify and [[probeAtRest]]
    * can never change a pair's fate on a degenerate vector. */
  private def vecDoubles(s: Seq[Any]): IndexedSeq[Double] =
    s.iterator.map {
      case null                => 0.0
      case f: java.lang.Float  => f.toDouble
      case d: java.lang.Double => d.doubleValue
      case other               => other.toString.toDouble
    }.toVector

  /** Spark SQL's double ordering (SQLOrderingUtil.compareDoubles,
    * replicated — the original is private[sql]): IEEE comparison where
    * comparable, ±0.0 EQUAL, NaN GREATER than everything. This — not
    * Java's primitive comparison — is what the expression path's
    * `cos >= threshold` and `nn > 0` actually evaluate, and DuckDB
    * orders NaN the same way, so the local verify must match it. */
  private[graft] def sqlCompareDoubles(x: Double, y: Double): Int =
    if (x < y) -1
    else if (x > y) 1
    else if (x == y) 0 // covers -0.0 vs 0.0, which Spark treats equal
    else if (x.isNaN) { if (y.isNaN) 0 else 1 }
    else -1

  /** Spark's round(double, 6) — RoundBase's DoubleType arm: NaN and
    * ±Infinity pass through UNCHANGED (BigDecimal cannot represent
    * them); finite values round via scala BigDecimal.decimal
    * (Double.toString canonical form), HALF_UP — bit-identical to the
    * expression path. */
  private def round6(c: Double): Double =
    if (c.isNaN || c.isInfinite) c
    else BigDecimal(c)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** [[Similarity.cosineLocal]] with [[graft.functions.VectorOps]]'s
    * length handling: each dot runs over the MIN of its two operands'
    * lengths (the norm terms see one array each, so they are full
    * length either way) — a length-mismatched pair scores what the
    * `vector_dot` expression scores instead of throwing. The norm
    * guard uses Spark's ordering ([[sqlCompareDoubles]]): a NaN norm
    * product passes `nn > 0` in the expression path (NaN orders
    * greatest) and yields a NaN cosine there — so it must here too,
    * not the 0.0 the Java comparison produced. */
  private def cosineLocalMin(a: Array[Double], b: Array[Double]): Double = {
    val nn = math.sqrt(Similarity.dotLocal(a, a)) *
      math.sqrt(Similarity.dotLocal(b, b))
    if (sqlCompareDoubles(nn, 0.0) > 0) {
      val n = math.min(a.length, b.length)
      var s = 0.0; var i = 0
      while (i < n) { s += a(i) * b(i); i += 1 }
      s / nn
    } else 0.0
  }

  /** The scan-shaped probe — [[probe]]'s above-cap fallback and the
    * oracle-friendly plan: batch band rows equi-join the WHOLE bucket
    * table on the packed key and the exact cosine verifies the JOINED
    * rows' vectors directly — structurally
    * [[Similarity.probeEmbedIndex]] with the at-rest posting list as
    * the index side (no candidate→vector join: the bucket rows carry
    * their vectors, saving a whole shuffle on the fallback path too).
    * Same output as [[probe]]; reads O(|corpus|) per call. */
  def probeAtRest(batch: DataFrame, path: String, idCol: String,
      vecCol: String, threshold: Double): DataFrame = {
    val spark = batch.sparkSession
    val p = readParams(spark, path)
    val b = bucketRows(batch, idCol, vecCol, "batch_id", p)
    b.as("x")
      .join(bucketsTable(spark, path).as("y"), "bkey")
      .withColumn("cos", Similarity.cosine(col("x.v"), col("y.v")))
      .filter(col("cos") >= threshold)
      .select(col("batch_id"), col("doc_id").as("corpus_id"),
        round(col("cos"), 6).as("cos"))
      .distinct()
  }

  // ---------------------------------------------------------- maintenance

  /** Fold every SETTLED batch (id ≤ `throughBatch`) into the base —
    * the store's default compaction (embedding rows are plain facts);
    * from `foreachBatch(N)` call with `throughBatch = N - 1`.
    *
    * Swap-order prefix ([[graft.sources.DirSwap]]'s table-order
    * contract, DRIVEN in EmbedIndexSpec's mixed-prefix case): a crash
    * between the two table swaps leaves compacted vecs beside
    * pre-compaction buckets. Benign for every reader — [[open]] reads
    * vecs alone (complete on either side of its own swap), and BOTH
    * probe paths read only the bucket table, whose pre-swap content
    * composes to the same rows (compaction relabels fold partitions
    * into the base and purges retracted rows physically, but standing
    * tombstones keep filtering the un-purged side until the clear,
    * which runs strictly AFTER every swap landed). */
  def compactThrough(spark: SparkSession, path: String,
      throughBatch: Long, targetFileBytes: Long = 128L << 20): Unit = {
    // layout guard ([[readParams]]): compacting a pre-layout-2 table
    // through the layout-2 schema would bake NULL bucket vectors in
    readParams(spark, path)
    store(path).compactThrough(spark, throughBatch,
      Map("vecs" -> targetFileBytes))
  }

  /** The staging prefix of [[compactThrough]] — the crash-injection
    * seam the mixed-prefix spec drives with
    * [[graft.sources.DirSwap.commitSwaps]]
    * ([[graft.sources.StandingStore.stageCompactThrough]]).
    * Layout-guarded like the real verb. */
  private[graft] def stageCompactThrough(spark: SparkSession,
      path: String, throughBatch: Long): Unit = {
    readParams(spark, path)
    val s = store(path)
    s.withLease(spark) { s.stageCompactThrough(spark, throughBatch); () }
  }

  /** Compact everything — run only once the fold stream settled. */
  def compact(spark: SparkSession, path: String): Unit =
    compactThrough(spark, path, Long.MaxValue)

  /** Fold partitions currently standing (listing only). */
  def foldCount(spark: SparkSession, path: String): Int =
    store(path).foldCount(spark)

  /** The in-loop cadence: compact settled folds once `maxFolds` stand.
    * Returns true iff it compacted. */
  def maintainThrough(spark: SparkSession, path: String, maxFolds: Int,
      throughBatch: Long): Boolean =
    // the GUARDED compactThrough as the cadence thunk — the store's
    // default would compact a pre-layout-2 table through the layout-2
    // schema and bake NULL bucket vectors in
    store(path).maintainThrough(spark, maxFolds, throughBatch)(
      compactThrough(spark, path, _))

  /** Retire the table. */
  def delete(spark: SparkSession, path: String): Unit =
    store(path).delete(spark)
}
