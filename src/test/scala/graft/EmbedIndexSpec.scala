package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ann.{EmbedIndex, Similarity}

/** The at-rest embedding index: probing it must equal probing the
  * session-RAM banded-LSH index (same candidates, same cosines),
  * folds must be replay-idempotent and settle-only compactable, the
  * probe must read batch-bounded bytes, and a LATER session must see
  * folded content with nothing re-hashed — the text lane's
  * SignatureIndex contract, inherited by its embedding twin. */
class EmbedIndexSpec extends SparkSpec {

  private val Src = "/root/testdata/sf0.001"
  private val P = EmbedIndex.Params(bands = 2, planesPerBand = 4, dims = 64)

  private def fixtureRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-embidx").toString

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("batch_id", "corpus_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("at-rest probe ≡ the session-RAM index probe, before and after compaction") {
    val emb = Tables(spark, Src, "embeddings")
    val corpus = emb.filter(col("vec_id") < 400)
      .select("vec_id", "embedding")
    // scaled copies of corpus vectors under fresh ids: same LSH
    // buckets (scaling preserves projection signs), cosine exactly 1
    val batch = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000L).as("vec_id"),
        transform(col("embedding"), v => v * lit(2.0f)).as("embedding"))
    val path = fixtureRoot() + "/emb"
    val (idx, relIdx) = Similarity.corpusEmbedIndex(corpus, "vec_id",
      "embedding", P.bands, P.planesPerBand, P.dims)
    try {
      val inRam = pairs(Similarity.probeEmbedIndex(batch, idx, "vec_id",
        "embedding", P.bands, P.planesPerBand, P.dims, 0.9))
      assert(inRam.size >= 20, "fixture needs the 20 scaled-copy matches")
      EmbedIndex.write(corpus, "vec_id", "embedding", path, P)
      assert(EmbedIndex.readParams(spark, path) == P)
      // the production point-read probe, its scan-shaped fallback,
      // and the above-cap cutover all produce the in-RAM pairs
      assert(pairs(EmbedIndex.probe(batch, path, "vec_id", "embedding",
        0.9)) == inRam)
      assert(pairs(EmbedIndex.probeAtRest(batch, path, "vec_id",
        "embedding", 0.9)) == inRam)
      assert(pairs(EmbedIndex.probe(batch, path, "vec_id", "embedding",
        0.9, cap = 1)) == inRam)
      // folds land batch-sized partitions; replay overwrites its own
      val half = batch.filter(col("vec_id") % 2 === 0)
      EmbedIndex.foldBatch(path, half, "vec_id", "embedding", 0L)
      val rows = EmbedIndex.open(spark, path).count()
      EmbedIndex.foldBatch(path, half, "vec_id", "embedding", 0L)
      assert(EmbedIndex.open(spark, path).count() == rows,
        "replayed fold duplicated vector rows")
      // settled-only compaction bakes fold 0 in; probes unchanged and
      // the folded content now answers probes too
      assert(EmbedIndex.foldCount(spark, path) == 1)
      assert(EmbedIndex.maintainThrough(spark, path, maxFolds = 1,
        throughBatch = 0L))
      assert(EmbedIndex.foldCount(spark, path) == 0)
      assert(EmbedIndex.open(spark, path).count() == rows)
      val after = pairs(EmbedIndex.probe(batch, path, "vec_id",
        "embedding", 0.9))
      assert(inRam.subsetOf(after))
      assert(after.exists(x => x._1 == 10002L && x._2 == 10002L),
        "a folded copy must self-match on later probes")
      assert(after == pairs(EmbedIndex.probeAtRest(batch, path, "vec_id",
        "embedding", 0.9)))
    } finally {
      relIdx()
      EmbedIndex.delete(spark, path)
    }
  }

  test("probe reads are batch-bounded: bucket and vector scans prune to point reads") {
    import graft.sources.{Layout, PointReads}
    // 10k deterministic zero-mean vectors, 256 buckets per band — the
    // probe's read is bounded by its candidate BUCKETS' page slices
    // (that is the LSH probe's inherent read), so the bucket count
    // must keep buckets small relative to the table, exactly what
    // adaptivePlanes does in production
    val dims = 8
    val p = EmbedIndex.Params(bands = 2, planesPerBand = 8, dims = dims)
    // hash-based components: unique per (id, dim) — a modular formula
    // would repeat whole vectors on a short id period and drown the
    // probe in accidental exact duplicates
    val corpus = spark.range(10000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dims - 1)), j =>
        (pmod(hash(col("id"), j), lit(1000)).cast("double") / 500.0 - 1.0)
          .cast("float"))
        .as("embedding"))
    val root = fixtureRoot()
    val path = s"$root/emb"
    val batch = corpus.filter(col("vec_id").isin(7L, 9993L))
      .select((col("vec_id") + 20000L).as("vec_id"),
        transform(col("embedding"), v => v * lit(3.0f)).as("embedding"))
    try {
      EmbedIndex.write(corpus, "vec_id", "embedding", path, p)
      val got = pairs(EmbedIndex.probe(batch, path, "vec_id",
        "embedding", 0.999))
      assert(got.map(x => (x._1, x._2)) == Set((20007L, 7L), (29993L, 9993L)),
        s"scaled copies must match exactly themselves: $got")
      assert(got == pairs(EmbedIndex.probeAtRest(batch, path, "vec_id",
        "embedding", 0.999)))
      // bucket-table point read: candidates scan a small fraction —
      // the probe keys are the batch's own (band, bucket) pairs,
      // re-derived here so the scan is measurable in isolation
      val buckets = EmbedIndex.openBuckets(spark, path)
      val total = Layout.scanOutputRows(buckets.filter(col("doc_id") >= 0))
      assert(total == 20000L, s"fixture drifted: $total bucket rows")
      val bkeys: Seq[Any] = (0 until p.bands).flatMap { b =>
        corpus.filter(col("vec_id").isin(7L, 9993L))
          .select(Similarity.lshBucket(col("embedding"), p.planesPerBand,
            p.dims, b * p.planesPerBand).as("bucket"))
          .collect().map(_.getLong(0) + b.toLong * (1L << 40))
      }.distinct
      val pruned = Layout.scanOutputRows(
        buckets.filter(PointReads.keyedFilter(col("bkey"), bkeys)))
      assert(pruned <= total / 4,
        s"candidate scan read $pruned of $total bucket rows — not a point read")
      // vector point read: the verify touches the candidates' pages only
      val vecsPruned = Layout.scanOutputRows(
        EmbedIndex.open(spark, path).filter(
          PointReads.keyedFilter(col("doc_id"), Seq(7L, 9993L))))
      assert(vecsPruned <= 10000L / 4,
        s"verify vector scan read $vecsPruned of 10000 rows — not a point read")
    } finally EmbedIndex.delete(spark, root)
  }

  test("cross-session fold loop: a later session probes folded vectors, nothing re-hashed") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val novel = Seq((10L, Seq(0f, 0f, 1f, 1f))).toDF("vec_id", "embedding")
    val p = EmbedIndex.Params(bands = 2, planesPerBand = 4, dims = 4)
    val root = fixtureRoot()
    val path = s"$root/emb"
    try {
      EmbedIndex.write(corpus, "vec_id", "embedding", path, p)
      // SESSION 1: batch 0 brings a NEW direction — no matches, folds
      assert(pairs(EmbedIndex.probe(novel, path, "vec_id", "embedding",
        0.9)).isEmpty)
      EmbedIndex.foldBatch(path, novel, "vec_id", "embedding", 0L)
      // SESSION 2 (fresh session, no RAM state): a scaled copy of the
      // folded direction matches THROUGH the at-rest table
      val s2 = spark.newSession()
      import s2.implicits._
      val copy = Seq((20L, Seq(0f, 0f, 2f, 2f))).toDF("vec_id", "embedding")
      val got = pairs(EmbedIndex.probe(copy, path, "vec_id", "embedding", 0.9))
      assert(got.map(x => (x._1, x._2)) == Set((20L, 10L)),
        s"the cross-session embed near-dup must surface from the table: $got")
    } finally EmbedIndex.delete(spark, root)
  }

  test("re-embedded doc: probe, probeAtRest, and the in-RAM probe verify the COLLIDING version identically") {
    import spark.implicits._
    // doc 1 is embedded twice — v1 in the base snapshot, v2 in a later
    // fold — the multi-version edge where the retired layout diverged
    // from the in-RAM contract (it verified every at-rest version of a
    // candidate id; probeEmbedIndex verifies the version that collided,
    // because its index rows carry the vector that hashed)
    val p = EmbedIndex.Params(bands = 2, planesPerBand = 4, dims = 4)
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val refold = Seq((1L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val root = fixtureRoot()
    val path = s"$root/emb"
    try {
      EmbedIndex.write(corpus, "vec_id", "embedding", path, p)
      EmbedIndex.foldBatch(path, refold, "vec_id", "embedding", 0L)
      // the at-rest content (both versions of doc 1) drives the in-RAM
      // index, so all three probes see the same corpus
      val composed = EmbedIndex.open(spark, path)
        .select(col("doc_id").as("vec_id"), col("v").as("embedding"))
      assert(composed.filter(col("vec_id") === 1L).count() == 2,
        "fixture needs both versions of doc 1 standing")
      val (idx, release) = Similarity.corpusEmbedIndex(composed,
        "vec_id", "embedding", p.bands, p.planesPerBand, p.dims)
      try {
        for (batch <- Seq(
            // a scaled copy of v2 (the folded re-embedding)…
            Seq((100L, Seq(0f, 2f, 0f, 0f))).toDF("vec_id", "embedding"),
            // …and of v1 (the original version)
            Seq((200L, Seq(3f, 0f, 0f, 0f))).toDF("vec_id", "embedding"))) {
          val inRam = pairs(Similarity.probeEmbedIndex(batch, idx,
            "vec_id", "embedding", p.bands, p.planesPerBand, p.dims, 0.9))
          assert(inRam.exists(x => x._2 == 1L && x._3 == 1.0),
            s"each version must self-match through its own collisions: $inRam")
          assert(pairs(EmbedIndex.probe(batch, path, "vec_id",
            "embedding", 0.9)) == inRam)
          assert(pairs(EmbedIndex.probeAtRest(batch, path, "vec_id",
            "embedding", 0.9)) == inRam)
        }
      } finally release()
    } finally EmbedIndex.delete(spark, root)
  }

  test("point probe submits exactly TWO Spark jobs — the latency shape, pinned structurally") {
    import spark.implicits._
    // the r15→r17 latency arc (3 serial collects → 2: bucket pages
    // carry their vectors) as a load-immune invariant: wall clock on a
    // shared box measures the box, the JOB COUNT measures the shape
    val p = EmbedIndex.Params(bands = 2, planesPerBand = 4, dims = 4)
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val batch = Seq((100L, Seq(2f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val root = fixtureRoot()
    val path = s"$root/emb"
    try {
      EmbedIndex.write(corpus, "vec_id", "embedding", path, p)
      // warm once: first-touch one-time work (file listing thresholds,
      // codegen) must not count against the steady-state shape
      pairs(EmbedIndex.probe(batch, path, "vec_id", "embedding", 0.9))
      val run = CpuMeter.measure(spark.sparkContext)(
        pairs(EmbedIndex.probe(batch, path, "vec_id", "embedding", 0.9)))
      assert(run.value.map(x => (x._1, x._2)) == Set((100L, 1L)))
      assert(run.jobs == 2,
        s"point probe submitted ${run.jobs} jobs; the shape is TWO " +
          "serial single-stage collects (batch band rows, then bucket " +
          "pages carrying their vectors)")
    } finally EmbedIndex.delete(spark, root)
  }

  test("oversized-batch fallback: one bucket-table scan, vecs never read — the fallback's scan shape, pinned") {
    import spark.implicits._
    // the LOAD-IMMUNE gate for q_dedup_embed_atrest's bench-hot path
    // (VERDICT r21 #7): the documented oversized-batch fallback must
    // stay ONE pass over the bucket table (whose pages carry their
    // vectors) and must never touch the corpus vecs table — a refactor
    // that re-attaches vectors via a vecs join would silently double
    // the at-rest read at 100 TB. Wall clock is not asserted anywhere
    // here; the scan census IS the gate.
    val p = EmbedIndex.Params(bands = 2, planesPerBand = 4, dims = 4)
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (100L, Seq(2f, 0f, 0f, 0f)),
      (101L, Seq(0f, 2f, 0f, 0f))).toDF("vec_id", "embedding")
    val root = fixtureRoot()
    val path = s"$root/emb"
    try {
      EmbedIndex.write(corpus, "vec_id", "embedding", path, p)
      val want = pairs(EmbedIndex.probe(batch, path, "vec_id",
        "embedding", 0.9))
      // cap=1: the batch's band rows (2 docs × 2 bands) overflow it,
      // so probe returns the probeAtRest plan — the exact cutover the
      // bench-scale batch (10% of the corpus) takes every call
      val df = EmbedIndex.probe(batch, path, "vec_id", "embedding",
        0.9, cap = 1)
      assert(pairs(df) == want, "fallback pairs must equal the bounded path's")
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan
        case q => q
      }
      val scanned = plan.collectWithSubqueries {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.mkString(",")
      }
      assert(scanned.count(_.contains("/buckets")) == 1,
        s"fallback must read the bucket table exactly once, scans: $scanned")
      assert(!scanned.exists(_.contains("/vecs")),
        s"fallback must never read the vecs table, scans: $scanned")
    } finally EmbedIndex.delete(spark, root)
  }

  test("layout migration: a layout-1 table refuses probes, migrates in place from vecs, probes identically") {
    import spark.implicits._
    val p = EmbedIndex.Params(bands = 2, planesPerBand = 4, dims = 4)
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val fold = Seq((10L, Seq(0f, 0f, 1f, 1f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (100L, Seq(2f, 0f, 0f, 0f)),
      (101L, Seq(0f, 0f, 3f, 3f))).toDF("vec_id", "embedding")
    val root = fixtureRoot()
    val path = s"$root/emb"
    try {
      EmbedIndex.write(corpus, "vec_id", "embedding", path, p)
      EmbedIndex.foldBatch(path, fold, "vec_id", "embedding", 0L)
      val want = pairs(EmbedIndex.probe(batch, path, "vec_id",
        "embedding", 0.9))
      assert(want.map(x => (x._1, x._2)) == Set((100L, 1L), (101L, 10L)),
        s"fixture must match base AND fold content: $want")

      EmbedFixtures.devolveToLayout1(spark, path)

      // every bucket-reading verb refuses loudly, naming the migration
      val e = intercept[IllegalArgumentException] {
        EmbedIndex.probe(batch, path, "vec_id", "embedding", 0.9)
      }
      assert(e.getMessage.contains("migrateLayout"), e.getMessage)

      // migrate: one pass over vecs, per-partition — then the probe
      // answers exactly as before the devolution, fold included
      assert(EmbedIndex.migrateLayout(spark, path))
      graft.Tables.invalidate(path)
      assert(EmbedIndex.readParams(spark, path) == p)
      assert(EmbedIndex.foldCount(spark, path) == 1,
        "migration must preserve the fold partition structure")
      assert(pairs(EmbedIndex.probe(batch, path, "vec_id", "embedding",
        0.9)) == want)
      assert(pairs(EmbedIndex.probeAtRest(batch, path, "vec_id",
        "embedding", 0.9)) == want)
      // idempotent: a second call is a no-op
      assert(!EmbedIndex.migrateLayout(spark, path))
    } finally EmbedIndex.delete(spark, root)
  }

  test("migrateLayout crash matrix: every torn state still refuses probes; re-migration converges to the clean result") {
    import graft.pipeline.Fsck
    import graft.sources.DirSwap
    import spark.implicits._
    val p = EmbedIndex.Params(bands = 2, planesPerBand = 4, dims = 4)
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val fold = Seq((10L, Seq(0f, 0f, 1f, 1f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (100L, Seq(2f, 0f, 0f, 0f)),
      (101L, Seq(0f, 0f, 3f, 3f))).toDF("vec_id", "embedding")
    val root = fixtureRoot()

    def buildDevolved(path: String): Unit = {
      EmbedIndex.write(corpus, "vec_id", "embedding", path, p)
      EmbedIndex.foldBatch(path, fold, "vec_id", "embedding", 0L)
      EmbedFixtures.devolveToLayout1(spark, path)
    }

    try {
      // the CLEAN twin: same fixture, never-crashed migration — the
      // ground truth every post-crash re-migration must converge to
      val clean = s"$root/clean"
      buildDevolved(clean)
      assert(EmbedIndex.migrateLayout(spark, clean))
      val want = pairs(EmbedIndex.probe(batch, clean, "vec_id",
        "embedding", 0.9))
      assert(want.map(x => (x._1, x._2)) == Set((100L, 1L), (101L, 10L)),
        s"clean-migration fixture drifted: $want")

      // each crash point gets a FRESH devolved root; after the injected
      // crash: (1) probes still refuse loudly naming the migration, (2)
      // fsck names the crash state, (3) a re-run migrateLayout
      // converges, and its probes equal the never-crashed twin's
      val cases: Seq[(String, String, String => Unit, Set[String])] = Seq(
        // (a) staging fully landed, swap never committed: live buckets
        // are still layout-1, the staging is inert
        ("post-staging", s"$root/a",
          s => if (s == "staged")
            throw new RuntimeException("injected-crash-post-staging"),
          Set("staging-inert")),
        // (a') swap COMMITTED (marker down) but no rename ran: recover
        // rolls the staged layout-2 buckets forward on the next verb —
        // the sidecar still reads layout 1 throughout, so no reader
        // ever sees layout-2 declared over layout-1 rows (or vice versa)
        ("mid-swap", s"$root/m",
          s => if (s == "staged") {
            DirSwap.commitSwaps(spark, s"$root/m", Seq("buckets"), 0)
            throw new RuntimeException("injected-crash-mid-swap")
          },
          Set("swap-committed")),
        // (b) swap finished, sidecar never bumped: layout-2 rows stand
        // under a layout-1 sidecar — still refusing, re-run rebuilds
        // idempotently
        ("post-swap", s"$root/b",
          s => if (s == "swapped")
            throw new RuntimeException("injected-crash-post-swap"),
          Set.empty))
      cases.foreach { case (tag, path, hook, wantFindings) =>
        buildDevolved(path)
        val e = intercept[RuntimeException] {
          EmbedIndex.migrateLayoutHooked(spark, path)(hook)
        }
        assert(e.getMessage.startsWith("injected-crash"), s"$tag: $e")
        // torn: the sidecar still reads layout 1, so every
        // bucket-reading verb refuses loudly, naming the migration
        assert(EmbedIndex.layoutVersion(spark, path).contains(1),
          s"$tag: torn state must still read layout 1")
        val refused = intercept[IllegalArgumentException] {
          EmbedIndex.probe(batch, path, "vec_id", "embedding", 0.9)
        }
        assert(refused.getMessage.contains("migrateLayout"),
          s"$tag: ${refused.getMessage}")
        // fsck names the torn state (plus the layout finding itself)
        val found = Fsck.scanRoot(spark, path, Seq("vecs", "buckets"))
          .map(_.kind).toSet
        assert(wantFindings.subsetOf(found),
          s"$tag: fsck found $found, wanted at least $wantFindings")
        // re-run converges: identical probes to the never-crashed twin,
        // fold structure intact, second re-run a no-op
        assert(EmbedIndex.migrateLayout(spark, path),
          s"$tag: re-migration must run")
        graft.Tables.invalidate(path)
        assert(EmbedIndex.readParams(spark, path) == p)
        assert(EmbedIndex.foldCount(spark, path) == 1,
          s"$tag: re-migration must preserve the fold partitions")
        assert(pairs(EmbedIndex.probe(batch, path, "vec_id", "embedding",
          0.9)) == want, s"$tag: point probe diverged from the clean twin")
        assert(pairs(EmbedIndex.probeAtRest(batch, path, "vec_id",
          "embedding", 0.9)) == want,
          s"$tag: scan probe diverged from the clean twin")
        assert(!EmbedIndex.migrateLayout(spark, path), s"$tag: not idempotent")
      }
    } finally EmbedIndex.delete(spark, root)
  }

  test("compaction crash between the two table swaps: every reader answers identically, recovery completes") {
    import graft.pipeline.Fsck
    import graft.sources.DirSwap
    import spark.implicits._
    val p = EmbedIndex.Params(bands = 2, planesPerBand = 4, dims = 4)
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val fold = Seq((10L, Seq(0f, 0f, 1f, 1f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (100L, Seq(2f, 0f, 0f, 0f)),
      (101L, Seq(0f, 0f, 3f, 3f))).toDF("vec_id", "embedding")
    val root = fixtureRoot()
    val path = s"$root/emb"
    try {
      EmbedIndex.write(corpus, "vec_id", "embedding", path, p)
      EmbedIndex.foldBatch(path, fold, "vec_id", "embedding", 0L)
      val want = pairs(EmbedIndex.probe(batch, path, "vec_id",
        "embedding", 0.9))
      assert(want.map(x => (x._1, x._2)) == Set((100L, 1L), (101L, 10L)),
        s"fixture must match base AND fold content: $want")
      val rows = EmbedIndex.open(spark, path).count()
      // stage the compaction fully, then crash after the FIRST table's
      // swap: compacted vecs now stand beside pre-compaction buckets —
      // the one mixed state compactThrough's table order can expose
      EmbedIndex.stageCompactThrough(spark, path, 0L)
      DirSwap.commitSwaps(spark, path, Seq("vecs", "buckets"), upTo = 1)
      def batchDirs(t: String): Set[String] =
        new java.io.File(s"$path/$t").listFiles()
          .filter(_.isDirectory).filterNot(_.getName.startsWith("."))
          .map(_.getName).toSet
      assert(batchDirs("vecs") == Set("__batch=-1"), "mixed state fixture")
      assert(batchDirs("buckets") == Set("__batch=-1", "__batch=0"))
      assert(Fsck.scanRoot(spark, path, Seq("vecs", "buckets"))
        .map(_.kind).contains("swap-committed"))
      // the ORDER argument, before any recovery runs: open reads the
      // compacted vecs (complete), both probe paths read only the
      // pre-compaction buckets (same composed rows under fold labels)
      assert(pairs(EmbedIndex.probe(batch, path, "vec_id", "embedding",
        0.9)) == want, "point probe diverged in the mixed state")
      assert(pairs(EmbedIndex.probeAtRest(batch, path, "vec_id",
        "embedding", 0.9)) == want, "scan probe diverged in the mixed state")
      assert(EmbedIndex.open(spark, path).count() == rows)
      // the reader preamble rolls the committed swap forward; nothing
      // visible changes
      EmbedIndex.recoverSwap(spark, path)
      assert(batchDirs("buckets") == Set("__batch=-1"),
        "recovery must finish the committed buckets swap")
      assert(EmbedIndex.foldCount(spark, path) == 0)
      assert(pairs(EmbedIndex.probe(batch, path, "vec_id", "embedding",
        0.9)) == want)
      // a re-run compaction converges on the identical visible table
      EmbedIndex.compactThrough(spark, path, 0L)
      assert(pairs(EmbedIndex.probeAtRest(batch, path, "vec_id",
        "embedding", 0.9)) == want)
      assert(EmbedIndex.open(spark, path).count() == rows)
    } finally EmbedIndex.delete(spark, root)
  }

  test("probe cap cutover boundary: nPairs == cap stays local, one less falls back — identical rows either side") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
    import spark.implicits._
    // a fixture whose three cutover triggers are all KNOWN numbers:
    // 3 corpus vectors and 2 batch vectors all share one direction, so
    // every vector lands in the same bucket per band (bands = 2) —
    //   leg 1 (batch band rows)    = 2 vecs × 2 bands   = 4
    //   leg 2 (bucket-page hits)   = 3 vecs × 2 bkeys   = 6
    //   pair trigger (nPairs)      = 6 hits × 2 probes  = 12
    // walking the cap across {12, 11, 5, 3} crosses each trigger at
    // its exact boundary; the r17 layout change reshaped the triggers
    // (the pair-count trigger replaced the third leg's collect cap),
    // so the boundary itself is what this pins
    val p = EmbedIndex.Params(bands = 2, planesPerBand = 4, dims = 4)
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(2f, 0f, 0f, 0f)),
      (3L, Seq(3f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (100L, Seq(4f, 0f, 0f, 0f)),
      (101L, Seq(5f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val root = fixtureRoot()
    val path = s"$root/emb"
    try {
      EmbedIndex.write(corpus, "vec_id", "embedding", path, p)
      val want = (for (b <- Seq(100L, 101L); c <- Seq(1L, 2L, 3L))
        yield (b, c, 1.0)).toSet
      assert(pairs(EmbedIndex.probeAtRest(batch, path, "vec_id",
        "embedding", 0.9)) == want, "scan-path fixture drifted")
      def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
      def hasJoin(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collect {
          case j: Join => j }.nonEmpty
      // AT the pair cap: everything stays on the driver (local relation)
      val atCap = EmbedIndex.probe(batch, path, "vec_id", "embedding",
        0.9, cap = 12)
      assert(isLocal(atCap),
        s"nPairs == cap must stay local:\n${atCap.queryExecution.optimizedPlan}")
      assert(pairs(atCap) == want)
      // ONE UNDER each trigger: the call becomes the scan-shaped plan
      // (a join), and the rows are identical — the cap only picks
      // which side pays, at the pair trigger (11), the bucket-page
      // collect (5), and the band-row collect (3)
      Seq(11, 5, 3).foreach { cap =>
        val df = EmbedIndex.probe(batch, path, "vec_id", "embedding",
          0.9, cap = cap)
        assert(hasJoin(df) && !isLocal(df),
          s"cap=$cap must cut over to the scan-shaped probe:\n" +
            s"${df.queryExecution.optimizedPlan}")
        assert(pairs(df) == want, s"cap=$cap diverged at the cutover")
      }
    } finally EmbedIndex.delete(spark, root)
  }

  test("migrateLayout preserves an all-null-vector fold's empty partition dir (fold lockstep listing)") {
    import spark.implicits._
    val p = EmbedIndex.Params(bands = 2, planesPerBand = 4, dims = 4)
    val corpus = Seq((1L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val nulls = Seq((10L, null: Seq[Float])).toDF("vec_id", "embedding")
    val root = fixtureRoot()
    val path = s"$root/emb"
    try {
      EmbedIndex.write(corpus, "vec_id", "embedding", path, p)
      // batch 0 carries only null vectors: landFold writes zero rows
      // and mkdirs the empty __batch=0 dir under BOTH tables (the
      // fold clock advances regardless of content)
      EmbedIndex.foldBatch(path, nulls, "vec_id", "embedding", 0L)
      assert(EmbedIndex.foldCount(spark, path) == 1)
      assert(EmbedIndex.batchWatermark(spark, path) == 0L)
      EmbedFixtures.devolveToLayout1(spark, path)
      // the rebuild derives buckets from vecs ROWS — without the
      // explicit restore, batch 0's empty dir would vanish from the
      // buckets listing and the two tables' fold listings would skew
      assert(EmbedIndex.migrateLayout(spark, path))
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(
        new org.apache.hadoop.fs.Path(s"$path/buckets/__batch=0")),
        "migration dropped the empty fold dir from buckets")
      assert(EmbedIndex.foldCount(spark, path) == 1)
      assert(EmbedIndex.batchWatermark(spark, path) == 0L)
    } finally EmbedIndex.delete(spark, root)
  }

  test("indexed accept router folds survivors' vectors into the embed lane in lockstep") {
    import graft.dedup.{DedupQueries, SignatureIndex, ClusterIndex}
    import graft.pipeline.{CuratedCorpus, IngestStream}
    val p = EmbedIndex.Params(bands = 2, planesPerBand = 6, dims = 8)
    // documents plus a deterministic embedding column — the feed shape
    // an embed-gated pipeline carries
    val docs = Tables(spark, Src, "documents").withColumn("embedding",
      transform(sequence(lit(0), lit(7)), j =>
        (pmod(hash(col("doc_id"), j), lit(1000)).cast("double") / 500.0
          - 1.0).cast("float")))
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val (t1, t2) = (mx * 8 / 10, mx * 9 / 10)
    val base = docs.where(col("doc_id") < t1)
    val b1 = docs.where(col("doc_id") >= t1 && col("doc_id") < t2)
    val b2 = docs.where(col("doc_id") >= t2)
    val T = DedupQueries.IncrementalFuzzyThreshold
    val root = fixtureRoot()
    val (cc, sigs, clusters, emb) =
      (s"$root/cc", s"$root/sigs", s"$root/clusters", s"$root/emb")
    try {
      CuratedCorpus.init(base, cc)
      IngestStream.bootstrapIndexes(spark, cc, sigs, clusters, T)
      // the embed twin's bootstrap: the curated ids' vectors
      EmbedIndex.write(
        CuratedCorpus.open(spark, cc).select("doc_id")
          .join(docs.select("doc_id", "embedding"), "doc_id"),
        "doc_id", "embedding", emb, p)
      def accept(b: DataFrame, id: Long): Boolean =
        IngestStream.acceptIntoCorpusIndexed(b,
          IngestStream.BatchReport(id, b.count(), Nil, 0.0, 0L), cc, sigs,
          clusters, T, maintainEvery = Some(1),
          embed = Some((emb, "embedding")))
      accept(b1, 0L)
      accept(b2, 1L)
      // LOCKSTEP: the embed lane covers exactly the curated ids, like
      // its sibling indexes
      val corpusIds = CuratedCorpus.open(spark, cc)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(corpusIds.nonEmpty)
      assert(EmbedIndex.open(spark, emb)
        .select("doc_id").collect().map(_.getLong(0)).toSet == corpusIds)
      // the shared dial compacted the embed lane's settled fold too
      assert(EmbedIndex.foldCount(spark, emb) == 1)
      // replay: the embed fold overwrites its own partitions
      val rows = EmbedIndex.open(spark, emb).count()
      accept(b2, 1L)
      assert(EmbedIndex.open(spark, emb).count() == rows,
        "replayed embed fold duplicated vector rows")
    } finally {
      CuratedCorpus.delete(spark, cc)
      SignatureIndex.delete(spark, sigs)
      ClusterIndex.delete(spark, clusters)
      EmbedIndex.delete(spark, emb)
    }
  }

  test("gated stack probes the at-rest embed index: restart re-hashes nothing; family mismatch fails fast") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types.StructType
    import graft.pipeline.IngestStream
    import spark.implicits._
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    def sentence(i: Int): String =
      (0 until 8).map(j => words((i * 3 + j * (1 + i % 7)) % 10))
        .mkString(" ") + s" tail$i"
    val corpus = Seq.tabulate(10)(i =>
      (i.toLong, sentence(i), Seq(1f, 0f, 0f, 0f)))
      .toDF("doc_id", "text", "embedding")
    val p = EmbedIndex.Params(bands = 2, planesPerBand = 4, dims = 4)
    val root = fixtureRoot()
    val path = s"$root/emb"
    EmbedIndex.write(corpus, "doc_id", "embedding", path, p)
    val gate = IngestStream.EmbedGate("embedding", p.bands,
      p.planesPerBand, p.dims, threshold = 0.9, atRestPath = Some(path))
    val schema = StructType.fromDDL(
      "doc_id BIGINT, text STRING, embedding ARRAY<FLOAT>")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    val reports = scala.collection.mutable
      .ArrayBuffer[IngestStream.BatchReport]()
    // corpus WITHOUT the embedding column: at-rest mode must not need
    // it — the in-RAM mode would fail this build outright (its
    // corpusEmbedIndex reads the column), which is the proof nothing
    // re-hashes the corpus on a restart
    val (writer, release) = IngestStream.gated(
      mem.toDF(), corpus.drop("embedding"), "doc_id", "text", Nil,
      threshold = 0.99, embed = Some(gate)) { (_, r) => reports += r }
    val q = writer.start()
    try {
      // a scaled copy of corpus direction e0 → embed match; an
      // orthogonal vector → none
      mem.addData(
        Row(100L, "completely novel words here", Seq(3f, 0f, 0f, 0f)),
        Row(101L, "other fresh content now", Seq(0f, 0f, 0f, 1f)))
      q.processAllAvailable()
    } finally { q.stop(); release() }
    assert(reports.size == 1 && reports.head.embedDupMatches == 10L,
      s"the scaled copy must match all 10 corpus vectors: $reports")
    assert(reports.head.gateSeconds.exists(_._1 == "embed"))
    // a gate declaring a different LSH family than the table's
    // persisted params must fail at BUILD time, not mid-stream
    intercept[IllegalArgumentException] {
      IngestStream.gated(mem.toDF(), corpus.drop("embedding"), "doc_id",
        "text", Nil, threshold = 0.99,
        embed = Some(gate.copy(planesPerBand = 8))) { (_, _) => () }
    }
    EmbedIndex.delete(spark, root)
  }
}
