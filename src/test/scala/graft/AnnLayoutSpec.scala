package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ann.Similarity
import graft.sources.Layout

/** The IVF index LAYOUT at rest: embeddings written range-sorted by
  * their assigned cell means a probe that narrows to nProbe cells
  * reads only those cells' row groups — the vectors of every other
  * cell are pruned by parquet footer stats, never deserialized. This
  * is what makes an IVF index on 100 TB of vectors an O(probed cells)
  * scan instead of a full pass; the spec measures it with the same
  * scan metric as LayoutSpec. */
class AnnLayoutSpec extends SparkSpec {

  private val K = 8

  test("cell-sorted embedding layout prunes non-probed cells from the scan") {
    val sf = "/root/testdata/sf0.001"
    val emb = Tables(spark, sf, "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", K)
    val clustered = emb.join(
      Similarity.assignCells(emb, "vec_id", "embedding", cents)
        .select("vec_id", "cell"),
      "vec_id")
      .select("vec_id", "cell", "embedding")

    val root = Files.createTempDirectory("graft-ivf-layout").toString
    Layout.writeRangeSorted(clustered, "cell", K, s"$root/by_cell")
    clustered.repartition(K).write.mode("overwrite").parquet(s"$root/naive")

    val total = clustered.count()
    def probe(dir: String): Long = Layout.scanOutputRows(
      spark.read.parquet(s"$root/$dir").filter(col("cell").isin(0, 1)))
    val naive = probe("naive")
    val pruned = probe("by_cell")
    // random order: cells 0 and 1 live in every row group; cell-sorted:
    // only their own (2-of-K cells plus boundary-straddling groups)
    assert(naive >= total * 9 / 10, s"naive layout unexpectedly skipped: $naive")
    assert(pruned <= total * 4 / K, s"cell layout did not prune: $pruned of $total")

    // and the probe result itself is identical on both layouts
    val a = spark.read.parquet(s"$root/by_cell").filter(col("cell").isin(0, 1))
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = spark.read.parquet(s"$root/naive").filter(col("cell").isin(0, 1))
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("persisted IvfIndex probe equals the in-query ivfTopK and prunes cells") {
    import graft.ann.IvfIndex
    val sf = "/root/testdata/sf0.001"
    val emb = Tables(spark, sf, "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", K)
    val queries = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toSeq

    val root = Files.createTempDirectory("graft-ivf-index").toString + "/idx"
    IvfIndex.write(emb, "vec_id", "embedding", cents, root)

    // centroid round-trip is exact (doubles in parquet)
    val readBack = IvfIndex.readCentroids(spark, root)
    assert(readBack.map(_.toSeq) == cents.map(_.toSeq))

    // probe-only read path ≡ the in-query operator, bit for bit
    val fromIndex = IvfIndex.probe(spark, root, queries,
      "vec_id", "embedding", 2, 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val inQuery = Similarity.ivfTopK(emb, queries,
      "vec_id", "embedding", cents, 2, 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(fromIndex == inQuery && fromIndex.nonEmpty)

    // directory-level pruning: the probe scan reads ONLY the probed
    // cells' partitions, never the rest of the corpus
    val probedCells = queries.flatMap { case (_, qv) =>
      val norms = cents.map(c => math.sqrt(Similarity.dotLocal(c, c)))
      val cs = cents.zip(norms).map { case (c, n) =>
        if (n > 0) Similarity.dotLocal(qv, c) / n else 0.0 }
      cs.indices.sortBy(i => (-cs(i), i)).take(2)
    }.distinct
    val cellSizes = spark.read.parquet(s"$root/corpus")
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expected = probedCells.map(c => cellSizes.getOrElse(c, 0L)).sum
    val total = cellSizes.values.sum
    val scanned = Layout.scanOutputRows(
      spark.read.parquet(s"$root/corpus")
        .filter(col("cell").isInCollection(probedCells)))
    assert(scanned == expected && scanned < total,
      s"probe scan read $scanned rows; probed cells hold $expected of $total")
  }

  test("an empty query set probes an empty literal map: no rows, no join, no error") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = emb.orderBy("vec_id").limit(K).select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray).toSeq
    val none = Seq.empty[(Long, Array[Double])]
    val assigned = Similarity.assignWithVectors(emb, "vec_id", "embedding", cents)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"), col("cell"))
    for (df <- Seq(
        Similarity.ivfTopK(emb, none, "vec_id", "embedding", cents, 2, 5),
        Similarity.ivfTopKAssigned(assigned, none, cents, 2, 5))) {
      assert(df.collect().isEmpty)
      assert(df.queryExecution.executedPlan.collectWithSubqueries {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.isEmpty, df.queryExecution.executedPlan.toString)
    }
    // a cell that no query probes looks up null and yields no rows:
    // one query probing a single cell scores only that cell's members
    val q = Seq((-1L, cents.head))
    val cell0 = assigned.filter(col("cell") === 0).count()
    assert(Similarity.ivfTopK(emb, q, "vec_id", "embedding", cents, 1, 1000000)
      .count() == cell0 && cell0 > 0)
  }

  test("a steady-state probe runs one job fewer than an inferring read, same rows") {
    import graft.ann.IvfIndex
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", K)
    val queries = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toSeq
    val root = Files.createTempDirectory("graft-ivf-jobs").toString + "/idx"
    IvfIndex.write(emb, "vec_id", "embedding", cents, root)
    try {
      val resident = IvfIndex.readCentroids(spark, root)
      val viaFooter = () => IvfIndex.probeResident(spark, root, resident,
        queries, "vec_id", "embedding", 2, 5)
      // the same probe over spark.read.parquet's inferring read
      val viaInference = () => Similarity.ivfTopKAssigned(
        graft.sources.Retractions(spark, root,
          spark.read.parquet(s"$root/corpus").select(col("vec_id").as("neighbor_id"),
            col("embedding").as("nv"), col("cell")),
          "neighbor_id"),
        queries, resident, 2, 5)
      def measured(probe: () => org.apache.spark.sql.DataFrame) =
        CpuMeter.measure(spark.sparkContext)(
          probe().orderBy("query_id", "rank").collect().map(_.toSeq).toSeq)
      // steady state: one warm call each before measuring
      measured(viaFooter); measured(viaInference)
      val (a, b) = (measured(viaFooter), measured(viaInference))
      assert(a.value == b.value && a.value.nonEmpty)
      assert(a.jobs == b.jobs - 1, s"footer $a vs inference $b")
      assert((a.jobsOutsideSql, b.jobsOutsideSql) == ((0L, 1L)),
        s"footer $a vs inference $b")
    } finally IvfIndex.delete(spark, root)
  }

  test("IvfIndex.append: probe-after-append ≡ probe-after-full-rewrite") {
    import graft.ann.IvfIndex
    val sf = "/root/testdata/sf0.001"
    val emb = Tables(spark, sf, "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", K)
    val corpus = emb.filter(col("vec_id") % 10 < 8)
    val batch = emb.filter(col("vec_id") % 10 >= 8)
    val queries = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toSeq

    val root = Files.createTempDirectory("graft-ivf-append").toString
    IvfIndex.write(corpus, "vec_id", "embedding", cents, s"$root/appended")
    val beforeAppend = listParquetFiles(s"$root/appended/corpus")
    IvfIndex.append(batch, "vec_id", "embedding", cents, s"$root/appended", 0L)
    IvfIndex.write(emb, "vec_id", "embedding", cents, s"$root/rewritten")

    // append-only: every file of the original corpus write survives —
    // untouched cells were never rewritten, only new files landed
    val afterAppend = listParquetFiles(s"$root/appended/corpus")
    assert(beforeAppend.subsetOf(afterAppend) &&
      afterAppend.size > beforeAppend.size,
      "append must add files without rewriting existing ones")
    assert(spark.read.parquet(s"$root/appended/corpus").count() == emb.count())

    // the probe cannot tell the layouts apart, bit for bit
    def probed(path: String) =
      IvfIndex.probe(spark, path, queries, "vec_id", "embedding", 2, 5)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val a = probed(s"$root/appended")
    val b = probed(s"$root/rewritten")
    assert(a == b && a.nonEmpty)

    // REPLAYING the same batch id is a no-op, not a duplication:
    // foreachBatch redelivery overwrites the batch's own partitions
    IvfIndex.append(batch, "vec_id", "embedding", cents, s"$root/appended", 0L)
    assert(spark.read.parquet(s"$root/appended/corpus").count() == emb.count(),
      "replayed append must not duplicate rows")
    assert(probed(s"$root/appended") == a,
      "replayed append must leave probes unchanged")
  }

  test("IvfIndex.compact folds appends into the base without changing one probe") {
    import graft.ann.IvfIndex
    val sf = "/root/testdata/sf0.001"
    val emb = Tables(spark, sf, "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", K)
    val queries = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toSeq
    val root = Files.createTempDirectory("graft-ivf-compact").toString + "/ix"
    try {
      IvfIndex.write(emb.filter(col("vec_id") % 10 < 8),
        "vec_id", "embedding", cents, root)
      IvfIndex.append(emb.filter(col("vec_id") % 10 === 8),
        "vec_id", "embedding", cents, root, 0L)
      IvfIndex.append(emb.filter(col("vec_id") % 10 === 9),
        "vec_id", "embedding", cents, root, 1L)
      def probed() =
        IvfIndex.probe(spark, root, queries, "vec_id", "embedding", 2, 5)
          .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      def batchDirs(): Set[String] =
        new java.io.File(s"$root/corpus").listFiles()
          .filter(_.isDirectory)
          .flatMap(_.listFiles().filter(_.isDirectory).map(_.getName))
          .toSet
      val before = probed()
      val total = spark.read.parquet(s"$root/corpus").count()
      assert(batchDirs().size > 1, "appends should add batch partitions")
      // settled-only first: batch 0 folds into the base, batch 1 (not
      // yet checkpoint-committed in the streaming picture) keeps its
      // own replayable partitions
      IvfIndex.compactThrough(spark, root, 0L)
      assert(batchDirs() == Set("__batch=-1", "__batch=1"))
      assert(IvfIndex.appendBatchCount(spark, root) == 1)
      assert(probed() == before)
      IvfIndex.compact(spark, root)
      // base-only partitions per cell, same rows, bit-identical probes
      assert(batchDirs() == Set("__batch=-1"))
      assert(spark.read.parquet(s"$root/corpus").count() == total)
      assert(probed() == before && before.nonEmpty)
      // layout op only: centroids untouched, a second compact no-ops
      assert(IvfIndex.readCentroids(spark, root).length == cents.length)
      IvfIndex.compact(spark, root)
      assert(probed() == before)
      // heal-before-write: an append into a half-swapped index (live
      // corpus renamed away, staged copy complete) must recover the
      // swap first instead of recreating the dir with only its rows
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      def p(s: String) = new org.apache.hadoop.fs.Path(s)
      fs.mkdirs(p(s"$root/.compact"))
      fs.rename(p(s"$root/corpus"), p(s"$root/.compact/corpus"))
      val fresh = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      IvfIndex.append(fresh, "vec_id", "embedding", cents, root, 2L)
      val base = spark.read.parquet(s"$root/corpus")
        .where(col("__batch") === IvfIndex.BaseBatch)
      assert(base.count() == total,
        "append into a half-swapped index lost standing rows")
      assert(spark.read.parquet(s"$root/corpus").count() ==
        total + fresh.count())
    } finally IvfIndex.delete(spark, root)
  }

  test("scratchPath: two sessions over the same dir get disjoint indexes") {
    import graft.ann.IvfIndex
    val sf = "/root/testdata/sf0.001"
    // the pre-round-9 path was keyed on dir.hashCode: two concurrent
    // sessions over the SAME dir would overwrite each other mid-probe.
    // scratchPath makes every call (= every session-cache fill) unique.
    val p1 = IvfIndex.scratchPath(sf)
    val p2 = IvfIndex.scratchPath(sf)
    assert(p1 != p2, "same source dir must yield distinct index paths")
    // and the two indexes really are independent at rest: write
    // different corpus slices, neither write disturbs the other
    val emb = Tables(spark, sf, "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", K)
    IvfIndex.write(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", cents, p1)
    IvfIndex.write(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", cents, p2)
    def ids(p: String): Set[Long] = spark.read.parquet(s"$p/corpus")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val (a, b) = (ids(p1), ids(p2))
    assert(a.nonEmpty && b.nonEmpty &&
      a.forall(_ % 2 == 0) && b.forall(_ % 2 == 1))
    // retiring one index never touches the other (swap-then-retire)
    IvfIndex.delete(spark, p1)
    assert(!new java.io.File(p1).exists())
    assert(ids(p2) == b)
    IvfIndex.delete(spark, p2)
  }

  test("snapshot-keyed ensure: a second session reuses without retraining") {
    import graft.ann.IvfIndex
    val sf = "/root/testdata/sf0.001"
    val emb = Tables(spark, sf, "embeddings")
    val base = java.nio.file.Files
      .createTempDirectory("graft-ivf-snap").toString
    val path = IvfIndex.snapshotPath(base, "corpus-v1")
    assert(IvfIndex.snapshotPath(base, "corpus-v1") == path,
      "snapshot path must be deterministic in (base, snapshotId)")
    assert(!IvfIndex.isComplete(spark, path))

    var trainCalls = 0
    def cents(): Seq[Array[Double]] = IvfIndex.ensure(
      emb, "vec_id", "embedding", spark, path) {
      trainCalls += 1
      Similarity.trainCentroids(emb, "vec_id", "embedding", K)
    }
    val c1 = cents()
    assert(trainCalls == 1 && IvfIndex.isComplete(spark, path))
    val queries = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toSeq
    def probe(s: org.apache.spark.sql.SparkSession,
        c: Seq[Array[Double]]): Seq[(Long, Long, Int)] =
      IvfIndex.probeResident(s, path, c, queries, "vec_id", "embedding", 2, 3)
        .select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
        .sorted
    val firstAnswer = probe(spark, c1)
    val filesAfterTrain = listParquetFiles(s"$path/centroids")
    val mtimes = filesAfterTrain.map(f => f -> new java.io.File(f).lastModified)

    // a SECOND session over the same snapshot: ensure must take the
    // reuse path — the train thunk never evaluates, no centroids
    // write happens, and the probe answers are identical
    val session2 = spark.newSession()
    var trained2 = false
    val c2 = IvfIndex.ensure(
      Tables(session2, sf, "embeddings"), "vec_id", "embedding",
      session2, path) {
      trained2 = true
      fail("second session must reuse the snapshot index, not retrain")
    }
    assert(!trained2)
    assert(c2.map(_.toSeq) == c1.map(_.toSeq))
    assert(listParquetFiles(s"$path/centroids") == filesAfterTrain)
    assert(mtimes.forall { case (f, t) =>
      new java.io.File(f).lastModified == t }, "centroids were rewritten")
    assert(probe(session2, c2) == firstAnswer && firstAnswer.nonEmpty)

    // an index whose corpus half never committed is NOT reusable —
    // the next ensure rebuilds instead of probing half an index
    assert(new java.io.File(s"$path/corpus/_SUCCESS").delete())
    assert(!IvfIndex.isComplete(spark, path))
    val c3 = cents()
    assert(trainCalls == 2 && IvfIndex.isComplete(spark, path))
    assert(probe(spark, c3) == firstAnswer)
    IvfIndex.delete(spark, path)
  }

  test("pruneSnapshots keeps the newest N committed indexes; retained probes unaffected") {
    import graft.ann.IvfIndex
    val sf = "/root/testdata/sf0.001"
    val emb = Tables(spark, sf, "embeddings")
    val base = Files.createTempDirectory("graft-ivf-prune").toString
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def path(id: String) = IvfIndex.snapshotPath(base, id)
    // three committed snapshot indexes with a deterministic commit
    // order (mtime ms resolution could tie three fast builds); the
    // rank marker is CENTROIDS' (append-immune) — the corpus marker
    // is rewritten by every append, so an appended-to old index must
    // not outrank a newer commit
    Seq("v1" -> 1000L, "v2" -> 2000L, "v3" -> 3000L).foreach {
      case (id, t) =>
        IvfIndex.ensure(emb, "vec_id", "embedding", spark, path(id)) {
          Similarity.trainCentroids(emb, "vec_id", "embedding", K)
        }
        fs.setTimes(p(s"${path(id)}/centroids/_SUCCESS"), t, -1)
    }
    // v1 takes a fresh APPEND (rewriting its corpus marker) — rank
    // must not move
    IvfIndex.append(emb.limit(5), "vec_id", "embedding",
      IvfIndex.readCentroids(spark, path("v1")), path("v1"), 0L)
    // a stale PARTIAL build older than everything, and an ensure
    // mid-train: its root mtime is OLDER than every commit (dirs are
    // created at acquire time), so only its live lease protects it
    fs.mkdirs(p(s"${path("v0")}/centroids"))
    fs.setTimes(p(path("v0")), 500L, -1)
    val inFlight = graft.sources.Lease.acquire(spark, path("v9"))
    fs.setTimes(p(path("v9")), 400L, -1)

    val queries = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toSeq
    def probe(id: String): Seq[(Long, Long, Int)] =
      IvfIndex.probe(spark, path(id), queries, "vec_id", "embedding", 2, 3)
        .select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
        .sorted
    val (a2, a3) = (probe("v2"), probe("v3"))

    IvfIndex.pruneSnapshots(spark, base, keep = 2)
    // oldest committed version (despite its fresher corpus marker)
    // and the stale partial are gone; the mid-train build survives
    // on lease liveness alone
    assert(!new java.io.File(path("v1")).exists(), "v1 must be pruned")
    assert(!new java.io.File(path("v0")).exists(), "stale partial must go")
    assert(new java.io.File(path("v9")).exists(),
      "a live-leased in-flight build must never be pruned")
    inFlight.release()
    // retained versions: still complete, probes bit-identical
    assert(IvfIndex.isComplete(spark, path("v2")) &&
      IvfIndex.isComplete(spark, path("v3")))
    assert(probe("v2") == a2 && probe("v3") == a3 && a2.nonEmpty)
    // idempotent: a re-run deletes nothing further
    IvfIndex.pruneSnapshots(spark, base, keep = 2)
    assert(new java.io.File(path("v2")).exists() &&
      new java.io.File(path("v3")).exists())
    // a base with no committed index never deletes (floor undefined)
    val empty = Files.createTempDirectory("graft-ivf-prune").toString
    fs.mkdirs(p(s"$empty/${IvfIndex.SnapPrefix}only/centroids"))
    IvfIndex.pruneSnapshots(spark, empty, keep = 1)
    assert(new java.io.File(s"$empty/${IvfIndex.SnapPrefix}only").exists())
    fs.delete(p(base), true)
    fs.delete(p(empty), true)
    ()
  }

  test("IvfIndex.retract: served probes silence at once, purge is settled-only, rebuild clears") {
    import graft.ann.IvfIndex
    val sf = "/root/testdata/sf0.001"
    val emb = Tables(spark, sf, "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", K)
    val queries = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toSeq
    val root = Files.createTempDirectory("graft-ivf-retract").toString + "/ix"
    try {
      IvfIndex.write(emb.filter(col("vec_id") % 10 < 8),
        "vec_id", "embedding", cents, root)
      IvfIndex.append(emb.filter(col("vec_id") % 10 === 8),
        "vec_id", "embedding", cents, root, 0L)
      IvfIndex.append(emb.filter(col("vec_id") % 10 === 9),
        "vec_id", "embedding", cents, root, 1L)
      def probed() =
        IvfIndex.probe(spark, root, queries, "vec_id", "embedding", 2, 5)
          .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      def servedDead(ids: Set[Long]): Long =
        IvfIndex.probe(spark, root, queries, "vec_id", "embedding", 2, 5)
          .where(col("neighbor_id").isin(ids.toSeq: _*)).count()
      val before = probed()
      // delete exactly what is being SERVED: the current top-1
      // neighbors — the strongest served-path claim
      val dead = IvfIndex
        .probe(spark, root, queries, "vec_id", "embedding", 2, 1)
        .select(col("neighbor_id").as("vec_id")).distinct()
      val deadIds = dead.collect().map(_.getLong(0)).toSet
      assert(deadIds.nonEmpty)
      val rawCount = spark.read.parquet(s"$root/corpus").count()
      IvfIndex.retract(spark, root, dead, "vec_id", 1L)
      // probes stop serving the ids AT ONCE, still k-deep (backfilled
      // from the remaining candidates), and no data file was touched
      assert(servedDead(deadIds) == 0L)
      assert(probed().size == before.size && before.nonEmpty)
      assert(spark.read.parquet(s"$root/corpus").count() == rawCount,
        "retract must not rewrite the corpus layout")
      val after = probed()
      // causal bound: a delete dated before a standing append is
      // refused (it would clear as settled while its targets' append
      // is still replayable)
      intercept[IllegalArgumentException] {
        IvfIndex.retract(spark, root, dead, "vec_id", 0L)
      }
      // compaction refuses to run blind while tombstones stand
      intercept[IllegalArgumentException] {
        IvfIndex.compactThrough(spark, root, 0L)
      }
      // settled-only: folding through batch 0 purges physically, but
      // the batch-1 tombstone (and its read filter) outlives the swap
      IvfIndex.compactThrough(spark, root, 0L, retractIdCol = Some("vec_id"))
      assert(spark.read.parquet(s"$root/corpus")
        .where(col("vec_id").isin(deadIds.toSeq: _*)).count() == 0L,
        "purge must be physical")
      assert(new java.io.File(s"$root/tombs").exists,
        "an unsettled tombstone must survive the compaction")
      assert(probed() == after)
      // through the tombstone's own batch: cleared, dir retired,
      // probes bit-stable across the purge
      IvfIndex.compact(spark, root, retractIdCol = Some("vec_id"))
      assert(!new java.io.File(s"$root/tombs").exists)
      assert(probed() == after)
      // a full rebuild supersedes the layout standing tombstones
      // target — they clear with it (the caller's corpus is the
      // post-retraction truth)
      IvfIndex.retract(spark, root,
        emb.filter(col("vec_id") === deadIds.head).select("vec_id"),
        "vec_id", 2L)
      IvfIndex.write(emb, "vec_id", "embedding", cents, root)
      assert(!new java.io.File(s"$root/tombs").exists,
        "a rebuild must clear the tombstones it supersedes")
      // deleting EVERY served doc is index retirement, not a
      // compaction side effect: the purge refuses to install an
      // unreadable zero-row corpus, and reads stay correct (empty)
      // off the standing filters
      IvfIndex.retract(spark, root, emb.select("vec_id"), "vec_id", 0L)
      intercept[IllegalArgumentException] {
        IvfIndex.compact(spark, root, retractIdCol = Some("vec_id"))
      }
      assert(IvfIndex.probe(spark, root, queries, "vec_id", "embedding",
        2, 5).isEmpty)
      assert(spark.read.parquet(s"$root/corpus").count() == emb.count(),
        "the refused compaction must leave the data standing")
      // the emptiness guard is the STAGED dir's listing (one corpus
      // scan total, not a second emptiness probe); a refusal drops
      // the inert staging instead of leaving it to confuse fsck
      assert(!new java.io.File(s"$root/.compact").exists,
        "the refused compaction must clean up its staging")
    } finally IvfIndex.delete(spark, root)
  }

  private def listParquetFiles(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
  }
}
