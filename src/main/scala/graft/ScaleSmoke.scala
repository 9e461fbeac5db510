package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Bucketed

/**
 * Scale sanity pass (VERDICT r3 #8): no sf1 dataset ships in this
 * sandbox, so this harness synthesizes a 10× corpus from sf0.1 in /tmp
 * — documents replicated with id offsets and per-copy text salt (so
 * content hashes differ and exact dedup does NOT collapse the copies),
 * embeddings replicated UNSALTED (10 identical copies per vector is
 * the adversarial case for bucketed near-dup: every bucket carries
 * 10× the pairs) — then times the adaptive-knob queries against it.
 *
 * What it demonstrates, beyond unit tests at the thresholds:
 *  - `adaptivePlanes` steps 5 → 9 at 5 000 vectors, holding expected
 *    bucket size ≤ 16 so the in-bucket quadratic step stays linear
 *    overall even with 10 exact duplicates of every vector;
 *  - the Bayardo prefix join and the LSH funnel degrade sub-linearly
 *    (10× rows, well under 100× the pair work);
 *  - packing/pipeline stay scan-bound.
 *
 * Run: `sbt "runMain graft.ScaleSmoke"` (full), or
 * `SCALE_SMOKE_ONLY=<ladder>[,<ladder>...]` / the same names as args
 * for one ladder (queries cdc sketch ingest ivf clusters deal release
 * loop probe fsck). Emits one line per check.
 * /tmp only — testdata is never written.
 */
object ScaleSmoke {

  val Copies = 10
  val OutDir = "/tmp/graft_scale10"

  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_CPUS sets the core count (Harness.cores) so the 10x
    // ladders can be run as a c8/c32 pair — per-query scaling ratios at
    // sf0.1 are overhead-bound and uninformative; at 10x they measure
    // the operators (VERDICT r21 #8).
    val spark = Harness.session()

    val src = "/root/testdata/sf0.1"
    val docs = Tables(spark, src, "documents")
    val nDocs = docs.count()
    val emb = Tables(spark, src, "embeddings")
    val nVecs = emb.count()

    val docsX = (0 until Copies).map { i =>
      docs.select(
        (col("doc_id") + lit(i.toLong * nDocs)).as("doc_id"),
        concat(col("text"), lit(s" s$i")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    val embX = (0 until Copies).map { i =>
      emb.select(
        (col("vec_id") + lit(i.toLong * nVecs)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _)
    docsX.write.mode(SaveMode.Overwrite).parquet(s"$OutDir/documents.parquet")
    embX.write.mode(SaveMode.Overwrite).parquet(s"$OutDir/embeddings.parquet")
    // the smoke rewrites OutDir tables in-session; cached plans from
    // a prior read would serve the pre-rewrite file listing
    graft.Tables.invalidate(OutDir)
    println(s"[scale] synthesized ${nDocs * Copies} docs / ${nVecs * Copies} vecs at $OutDir")

    // Ladder registry — the FULL run is every ladder in this order
    // (identical to the pre-registry daisy chain). The fast lane
    // (VERDICT r16 #8): `SCALE_SMOKE_ONLY=<name>[,<name>...]` (or the
    // same names as program args) runs exactly those ladders, so a
    // round iterating on one ladder pays minutes, not the hour.
    val ladders: Seq[(String, () => Unit)] = Seq(
      "queries" -> (() => queriesSmoke(spark)),
      "cdc" -> (() => cdcSmoke(spark, src)),
      "sketch" -> (() => sketchAndLayoutSmoke(spark)),
      "ingest" -> (() => streamingIngestSmoke(spark)),
      "ivf" -> (() => ivfAppendSmoke(spark)),
      "clusters" -> (() => clusterIndexSmoke(spark)),
      "deal" -> (() => shardedDealSmoke(spark)),
      "release" -> (() => releaseSmoke(spark)),
      "loop" -> (() => composedLoopSmoke(spark)),
      "probe" -> (() => { probeReadSmoke(spark); embedProbeReadSmoke(spark) }),
      "fsck" -> (() => fsckSmoke(spark)))
    val selected = (sys.env.get("SCALE_SMOKE_ONLY").toSeq
      .flatMap(_.split(',')) ++ args).map(_.trim).filter(_.nonEmpty)
    val unknown = selected.toSet -- ladders.map(_._1).toSet
    require(unknown.isEmpty,
      s"unknown ladder(s) ${unknown.mkString(", ")} — " +
        s"have ${ladders.map(_._1).mkString(", ")}")
    val run = if (selected.isEmpty) ladders
      else ladders.filter(l => selected.contains(l._1))
    run.foreach { case (name, body) =>
      println(s"[scale] === ladder: $name ===")
      body()
    }
    spark.stop()
  }

  /** The adaptive-knob query sweep against the 10× corpus. */
  def queriesSmoke(spark: SparkSession): Unit = {
    val queries = Seq(
      "q_dedup_embed_cos", "q_dedup_lsh_pairs", "q_dedup_clusters",
      "q_dedup_ngram_jaccard", "q_ann_knn_graph", "q_text_pack",
      "q_pipeline_curate", "q_dedup_incremental", "q_dedup_incremental_fuzzy",
      "q_dedup_incremental_simhash", "q_dedup_incremental_embed",
      "q_pipeline_ingest", "q_dedup_clusters_incremental",
      "q_dedup_clusters_atrest",
      "q_text_vocab_drift_capped", "q_sample_cluster",
      "q_sample_shuffle", "q_sample_token_budget",
      "q_pipeline_release", "q_pipeline_release_incremental",
      "q_dedup_semantic_trained")
    // two timed reps with executor CPU (the load-immune ratio input):
    // rep1 is cold (codegen + standing-cache builds), rep2 is the
    // steady-state number a c8/c32 pair compares
    queries.foreach { name =>
      (1 to 2).foreach { rep =>
        val r = CpuMeter.measure(spark.sparkContext)(
          SparkEntry.queries(name)(spark, OutDir).count())
        println(f"[scale] $name%-24s rep$rep ${r.wallS}%8.2f s  " +
          f"cpu ${r.cpuS}%7.2f s  rows=${r.value}")
      }
    }
  }

  /**
   * CDC family at 10×: the LWW→apply path over a synthesized 10× event
   * feed with a PLANTED hot key. Copies 0-8 shift offsets uniformly
   * (the feed's k = (offs·7) % 3000 stays uniform); copy 9 strides its
   * offsets by 3000, so every one of its events maps to the SAME k —
   * one key carrying ~10% of the feed, the skew shape the hot-key
   * audit exists to catch. Then the audit's own output (max/mean key
   * count) decides the salt count for a demonstrably-skewed
   * enrichment join, plain vs salted, equal results.
   */
  def cdcSmoke(spark: SparkSession, src: String): Unit = {
    import graft.analytics.Skew
    val ev = Tables(spark, src, "events")
    val span = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    val others = ev.columns.filterNot(_ == "event_id").map(col).toSeq
    val evX = (0 until Copies).map { i =>
      val newId =
        if (i < Copies - 1) col("event_id") + lit(i * span)
        // hot copy: offsets ≡ hotBase (mod 3000) ⇒ one shared k
        else col("event_id") * lit(3000L) + lit((Copies - 1) * span * 3000L)
      ev.select(newId.as("event_id") +: others: _*)
    }.reduce(_ unionByName _)
    evX.write.mode(SaveMode.Overwrite).parquet(s"$OutDir/events.parquet")
    Tables(spark, src, "orders").write.mode(SaveMode.Overwrite)
      .parquet(s"$OutDir/orders.parquet")
    graft.Tables.invalidate(OutDir) // rewrites tables a prior block may have read
    println(s"[scale] synthesized 10x CDC feed (${Copies - 1} uniform copies " +
      "+ 1 hot-key copy)")

    Seq("q_cdc_lww", "q_cdc_apply", "q_cdc_hot_keys").foreach { name =>
      val r = CpuMeter.measure(spark.sparkContext)(
        SparkEntry.queries(name)(spark, OutDir).count())
      println(f"[scale] $name%-24s ${r.wallS}%8.2f s  rows=${r.value}")
    }

    // ---- 50%-hot LWW batch: the exchange's WRITE-side gate ----------
    // VERDICT r19 #5: ONE key receives half a 2M-event batch — the
    // "millions of updates to one key" shape AQE cannot split (a
    // window exchange's partitions are per-key total). The skew
    // protection IS lastWriteWins' partial WindowGroupLimit, which
    // collapses each key to one row per map partition BEFORE the
    // (table, key) exchange. Three sibling pins, three angles: the
    // 90%-one-key block below gates the READ side (per-reduce-task
    // arrival stays flat), PlanQualitySpec gates plan shape + records
    // at spec scale; this one gates the exchange's RUNTIME
    // shuffleRecordsWritten at a SHARP bound — with only 501 keys,
    // ≤ #keys × (#mapParts + 1) records may shuffle for 2M inputs, so
    // a partial-limit regression (or a refactor to a non-collapsing
    // window) overshoots by ~120× and trips loudly. Load-immune:
    // record counts, never seconds.
    {
      import graft.operators.CdcOps
      val n = 2000000L
      val batch = spark.range(n).select(
        lit("T").as("tbl"),
        // even ids -> the one hot key (50%); odd ids -> id % 1000
        // (parity-preserving: 500 distinct cold keys)
        when(col("id") % 2 === 0, lit(-1L))
          .otherwise(col("id") % 1000L).as("k"),
        col("id").as("offset"))
      val collapsed = CdcOps.lastWriteWins(batch, "tbl", Seq("k"), "offset")
      val t0 = System.nanoTime()
      // collect (501 rows), NOT count: the metrics below must come from
      // THIS QueryExecution — count() plans a separate aggregate query
      val out = collapsed.collect().length
      val sec = (System.nanoTime() - t0) / 1e9
      require(out == 501, s"50%-hot LWW fixture: $out keys, expected 501")
      val written = PlanInspect.maxShuffleRecordsWritten(collapsed)
      val mapParts = batch.rdd.getNumPartitions
      println(f"[scale] lww 50%%-hot batch       ${sec}%8.2f s  rows=$out " +
        s"shuffled=$written of n=$n ($mapParts map partitions)")
      require(written > 0 && written <= 501L * (mapParts + 1),
        s"hot key must collapse map-side: $written records shuffled for " +
          s"501 keys over $mapParts map partitions (0 means the plan " +
          s"lost its exchange or the metric moved; a dropped partial " +
          s"limit would shuffle ~$n)")
    }

    // ---- bucketed zero-exchange apply at 10x ------------------------
    // the flagship's steady state: snapshot and LWW'd change-set both
    // bucketed by PK, the apply plans no exchange on either side
    {
      import graft.operators.CdcOps
      import graft.model.Cdc
      val snap = Tables(spark, OutDir, "orders")
      // only the snapshot's own table — the LWW output spans all event
      // types, and an apply's one-row-per-key contract holds per table
      val lww = SparkEntry.queries("q_cdc_lww")(spark, OutDir)
        .filter(col(Cdc.Cols.TableName) === "TEST_PURCHASE")
      val changes = lww.select(
        col("k").as("o_orderkey"), (col("k") % 100).as("o_custkey"),
        lit("U").as("o_orderstatus"), col("amount").as("o_totalprice"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("o_orderdate"),
        lit("CDC-UPSERT").as("o_orderpriority"), col(Cdc.Cols.Op))
      Bucketed.writeBucketed(snap, "smoke_snap", s"$OutDir/bsnap", "o_orderkey", 8)
      Bucketed.writeBucketed(changes, "smoke_changes", s"$OutDir/bchanges",
        "o_orderkey", 8)
      try {
        val t0 = System.nanoTime()
        val n = CdcOps.applyChangesBucketed(
          spark, "smoke_snap", "smoke_changes", "o_orderkey").count()
        val sec = (System.nanoTime() - t0) / 1e9
        val plan = CdcOps.applyChangesBucketed(
          spark, "smoke_snap", "smoke_changes", "o_orderkey")
          .queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.initialPlan
          case p => p
        }
        val nEx = plan.collectWithSubqueries {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
        }.length
        println(f"[scale] bucketed apply           ${sec}%8.2f s  rows=$n " +
          s"exchanges=$nEx")
        require(nEx == 0, s"bucketed apply planned $nEx exchanges")
      } finally {
        spark.sql("DROP TABLE IF EXISTS smoke_snap")
        spark.sql("DROP TABLE IF EXISTS smoke_changes")
      }
    }

    // ---- hot-key audit feeding the salted join decision -------------
    // per-key event counts of the 10x feed (the audit's aggregation,
    // un-truncated so max/mean is computable)
    val feed = graft.feeds.CdcFeed.base(spark, OutDir)
    val keyStats = feed.groupBy("k").agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx"),
        (sum(col("n")) / count(lit(1))).as("mean")).head()
    val (mx, mean) = (keyStats.getLong(0), keyStats.getDouble(1))
    val skewRatio = mx / mean
    // the audit decides: salts sized to split the hottest key down to
    // roughly the mean, capped at the parallelism
    val salts = math.min(32, math.max(1, math.ceil(skewRatio).toInt))
    println(f"[scale] hot-key audit: max=$mx mean=$mean%.1f " +
      f"skew=$skewRatio%.1f -> salts=$salts")

    // skewed enrichment join (change feed x snapshot row on k), forced
    // off the broadcast path the way a 100 TB snapshot side would be
    val dim = Tables(spark, OutDir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val t1 = System.nanoTime()
      val plainN = feed.join(dim, Seq("k")).count()
      val plainSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val saltedN = Skew.saltedJoin(feed, dim, "k", salts, Seq("offs")).count()
      val saltedSec = (System.nanoTime() - t2) / 1e9
      require(plainN == saltedN,
        s"salted join changed the result: $plainN vs $saltedN")
      // At 600k feed rows the 100k-row hot key still fits one task, so
      // the salted plan's ×salts small-side replication shows as
      // overhead — the wall-clock WIN only appears once a key exceeds
      // task capacity (memory or minutes), which is exactly when the
      // audit's skew ratio tells you to reach for this. The smoke
      // demonstrates the decision loop and result equality, not a toy
      // speedup.
      println(f"[scale] apply-enrich join       plain ${plainSec}%6.2f s  " +
        f"salted($salts) ${saltedSec}%6.2f s  rows=$plainN")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)

    // ---- 90%-one-key LWW: per-reduce-task arrival stays FLAT --------
    // The window's skew protection is the partial WindowGroupLimit
    // (AQE skew-split fires only on join stages; a window exchange
    // cannot split a key's partition without breaking per-key
    // totality): each map partition emits at most one row per
    // (table, key) before the shuffle, so the reduce task holding the
    // hot key receives ~#mapPartitions extra rows, not 90% of the
    // batch. Metric is per-task shuffle-read ROW COUNTS — load-immune
    // (a busy box changes seconds, never row counts).
    {
      import graft.operators.CdcOps
      val n = 2000000L
      val skewed = spark.range(n).select(
        lit("T").as("tbl"),
        when(col("id") % 10 < 9, lit(7L)).otherwise(col("id")).as("k"),
        col("id").as("offset"))
      val reads = new java.util.concurrent.ConcurrentHashMap[
        Int, java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null && m.shuffleReadMetrics.recordsRead > 0) {
            reads.computeIfAbsent(t.stageId,
              _ => new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]())
              .add(java.lang.Long.valueOf(m.shuffleReadMetrics.recordsRead))
          }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val collapsed =
          CdcOps.lastWriteWins(skewed, "tbl", Seq("k"), "offset").count()
        require(collapsed == n / 10 + 1, s"lww keys: $collapsed")
        import scala.jdk.CollectionConverters._
        // count() returns only after its task-end events are posted, so
        // draining the bus delivers every one of them to the listener
        org.apache.spark.sql.graftshim.GraftShims
          .waitListenerBusEmpty(spark.sparkContext)
        require(!reads.isEmpty, "the listener recorded no shuffle-read rows")
        // the window stage = the one with the largest shuffle arrival
        val windowStage = reads.asScala.values
          .map(_.asScala.map(_.longValue).toSeq)
          .maxBy(_.sum)
        val total = windowStage.sum
        val sorted = windowStage.sorted
        val (mxT, medT) = (sorted.last, sorted(sorted.length / 2))
        val ratio = mxT.toDouble / math.max(1L, medT)
        // bounds, not seconds: total ≈ uniqueKeys + mapParts·1 hot row
        require(total <= n / 10 + 3000,
          s"partial limit must collapse the hot key map-side: $total")
        require(ratio <= 3.0,
          f"hot reduce task must stay ~median-sized: max=$mxT med=$medT")
        println(f"[scale] lww 90%%-one-key         shuffleRows=$total " +
          f"(input=$n) maxTask=$mxT medTask=$medT ratio=$ratio%.2f " +
          "(partial WindowGroupLimit collapse; flat reduce arrival)")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  /**
   * Sketch + layout at 10×: cardinality estimation cost must track the
   * row count (per-group state is a constant-size sketch regardless of
   * distinct count), and the range-sorted layout's scan pruning must
   * hold on the synthesized feed — the point filter reads ~1/files of
   * the rows its naive copy reads.
   */
  def sketchAndLayoutSmoke(spark: SparkSession): Unit = {
    Seq("q_events_approx_users", "q_events_sketch_rollup").foreach { name =>
      val r = CpuMeter.measure(spark.sparkContext)(
        SparkEntry.queries(name)(spark, OutDir).count())
      println(f"[scale] $name%-24s ${r.wallS}%8.2f s  rows=${r.value}")
    }

    import graft.sources.Layout
    val ev = Tables(spark, OutDir, "events").select("event_id", "user_id", "value")
    val files = 16
    Layout.writeRangeSorted(ev, "user_id", files, s"$OutDir/ev_by_user")
    val probeId = ev.agg(max(col("user_id")) / 2).head().getDouble(0).toLong
    val total = ev.count()
    val pruned = Layout.scanOutputRows(
      spark.read.parquet(s"$OutDir/ev_by_user").filter(col("user_id") === probeId))
    println(f"[scale] range-sorted point scan  reads $pruned of $total rows " +
      f"(${100.0 * pruned / total}%.1f%%)")
    require(pruned <= total / (files / 2),
      s"layout pruning regressed at 10x: $pruned of $total")

    // z-order on (user_id, value): BOTH point filters must skip on the
    // 10x feed — the two-dimensional claim, measured at scale
    Layout.writeZOrdered(ev, "user_id", "value", 4, files, s"$OutDir/ev_z")
    // a NARROW value band — a broad range predicate mostly reads rows
    // that genuinely match, which demonstrates nothing about skipping
    val vProbe = ev.agg(max(col("value")) / 2).head().getDouble(0)
    val zByUser = Layout.scanOutputRows(
      spark.read.parquet(s"$OutDir/ev_z").filter(col("user_id") === probeId))
    val zByValue = Layout.scanOutputRows(
      spark.read.parquet(s"$OutDir/ev_z")
        .filter(col("value").between(vProbe, vProbe + 1.0)))
    println(f"[scale] z-order scans            user $zByUser / value $zByValue " +
      f"of $total rows (${100.0 * zByUser / total}%.1f%% / " +
      f"${100.0 * zByValue / total}%.1f%%)")
    require(zByUser <= total * 6 / 10 && zByValue <= total * 6 / 10,
      s"z-order pruning regressed at 10x: $zByUser / $zByValue of $total")
  }

  /**
   * The FULL composed streaming ingest stack over the 10× corpus —
   * all four gates (dq + capped drift + text near-dup probe + embed
   * near-dup probe): standing structures (capped K+1-row token
   * profile, corpus band index, banded embedding index over ~80% of
   * the 10× corpus) built ONCE, then N micro-batches through
   * IngestStream.gated. What the timings demonstrate: batch 1 pays
   * the standing-index materialization; every later batch pays only
   * the batch-sized probes — per-batch cost flat, the amortization
   * claim made measurable, with PER-GATE wall-clock printed so the
   * cost attribution is visible. The poisoned batch (blank texts +
   * vocabulary flip) must fail dq, raise (capped, lower-bound) drift,
   * and land in the quarantine table; clean batches must hit the
   * embedding index (the feed replicates corpus vectors).
   *
   * Runs TWICE: once with the exact top-K profile build
   * (cappedProfile) and once with the Count-Min-selected build
   * (sketchProfile via `sketchSelectedHead`) — the 100 TB
   * profile-build dial exercised at 10×, with per-gate timings for
   * both and the gate VERDICTS (dq pass/fail, dup-match counts,
   * poisoned-batch drift alarm) required identical: the sketch build
   * changes profile-construction cost, never what the gates decide.
   */
  def streamingIngestSmoke(spark: SparkSession): Unit = {
    val exact = ingestSmokeRun(spark, sketchHead = false)
    val sketch = ingestSmokeRun(spark, sketchHead = true)
    require(exact.map(_._1) == sketch.map(_._1),
      "dq verdicts must not depend on the profile build strategy")
    require(exact.map(_._3) == sketch.map(_._3) &&
      exact.map(_._4) == sketch.map(_._4),
      "near-dup/embed-dup matches must not depend on the profile build")
    // both builds' drift gates must fire on the poisoned batch and
    // stay quiet relative to it elsewhere (values may differ at the
    // margin if CMS slack admits a different rank-K tail; the ALARM
    // may not)
    def alarm(run: Seq[(Boolean, Double, Long, Long)]): Seq[Boolean] = {
      val base = run.head._2
      run.map(_._2 > base * 2 + 0.05)
    }
    require(alarm(exact) == alarm(sketch),
      s"drift alarms diverged: exact=${exact.map(_._2)} sketch=${sketch.map(_._2)}")
  }

  /**
   * At-rest probe-read boundedness (the r11 scale finding): the
   * [[graft.dedup.SignatureIndex.probe]] contract says per-batch
   * reads are ∝ batch + matches, NOT corpus. Proof shape: probe the
   * SAME batch against a 1× corpus and a 10× corpus whose growth is
   * entirely NOVEL documents (so the matched set is identical at both
   * scales — any read growth would be pure corpus-proportionality),
   * and measure the probe's two reads by scan-operator output rows
   * (load-immune, the LayoutSpec metric):
   *  - the candidate scan of the band_key-sorted `bands` table —
   *    page-granular skipping, so a fixed key set reads a fixed
   *    number of small pages at any corpus size;
   *  - the verify scan of the doc_id-sorted corpus text — file/
   *    row-group-granular skipping, so a fixed candidate set reads a
   *    fixed number of files when files stay corpus-proportional.
   * Enforced: identical matches, both reads within 4× across the 10×
   * growth, and both a small fraction of their 10× tables.
   */
  def probeReadSmoke(spark: SparkSession): Unit = {
    import graft.dedup.{Dedup, SignatureIndex}
    import graft.sources.{Layout, PointReads}
    val base = spark.read.parquet(s"$OutDir/documents.parquet")
      .select("doc_id", "text").where(length(trim(col("text"))) > 0)
    val nBase = Tables(spark, "/root/testdata/sf0.1", "documents").count()
    val corpus1 = base.where(col("doc_id") < nBase)
    def soup(ids: org.apache.spark.sql.DataFrame, tag: String) =
      ids.select((col("id") + lit(90000000L)).as("doc_id"),
        array_join(transform(sequence(lit(0), lit(11)), i =>
          md5(concat(lit(tag), col("id").cast("string"), lit("_"),
            i.cast("string")))), " ").as("text"))
    // 10× growth = novel synthetic docs: they match nothing, so the
    // probe's TRUE answer is scale-invariant by construction
    val corpus10 = corpus1.unionByName(
      soup(spark.range(9L * nBase).toDF("id"), "fill"))
    // the batch: 6 novel docs + 2 verbatim near-dups of corpus docs
    val dups = corpus1.orderBy("doc_id").limit(2)
      .select((col("doc_id") + 91000000L).as("doc_id"), col("text"))
    val batch = soup(spark.range(6).toDF("id"), "probe").unionByName(dups)
    val (batchSig, relSig) = Dedup.batchSignatures(batch, "doc_id", "text")
    try {
      val keys = Dedup.bandRows(batchSig)
        .select("band_key").distinct().collect().map(_.getString(0)).toSeq

      def measure(tag: String, corpus: org.apache.spark.sql.DataFrame)
          : (Long, Long, Long, Long, Long) = {
        val root = s"$OutDir/probe_$tag"
        SignatureIndex.delete(spark, root)
        val idx = s"$root/idx"
        val tp = s"$root/text"
        SignatureIndex.write(corpus, "doc_id", "text", idx)
        val rows = corpus.count()
        // files corpus-proportional (constant rows per file), the
        // CuratedCorpus discipline scaled down to smoke size
        Layout.writeRangeSorted(corpus, "doc_id",
          math.max(1L, rows / 700L).toInt, tp)
        val text = spark.read.parquet(tp)
        val t0 = System.nanoTime()
        val matches = SignatureIndex.probe(batchSig, idx, text,
          "doc_id", "text", 0.9).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val bands = SignatureIndex.openBands(spark, idx)
        val bandTotal = bands.count()
        val bandRead = Layout.scanOutputRows(
          bands.filter(PointReads.keyedFilter(col("band_key"), keys)))
        val candIds = bands
          .filter(PointReads.keyedFilter(col("band_key"), keys))
          .join(broadcast(Dedup.bandRows(batchSig)), "band_key")
          .select("doc_id").distinct().collect().map(_.getLong(0)).toSeq
        val textRead = if (candIds.isEmpty) 0L else Layout.scanOutputRows(
          text.filter(PointReads.keyedFilter(col("doc_id"), candIds)))
        println(f"[scale] probe reads $tag%-4s        ${sec}%8.2f s  " +
          f"matches=$matches bands=$bandRead/$bandTotal text=$textRead/$rows")
        (matches, bandRead, bandTotal, textRead, rows)
      }
      val (m1, b1, _, t1, _) = measure("1x", corpus1)
      val (m10, b10, bt10, t10, r10) = measure("10x", corpus10)
      require(m10 == m1 && m1 >= 2,
        s"matched set must be scale-invariant here: $m1 vs $m10")
      require(b10 <= b1 * 4,
        s"band read grew with the corpus: $b1 -> $b10 under 10x growth")
      require(t10 <= math.max(t1, 1L) * 4,
        s"text read grew with the corpus: $t1 -> $t10 under 10x growth")
      require(b10 * 3 <= bt10,
        s"band read $b10 of $bt10 rows is not a point read")
      require(t10 * 3 <= r10,
        s"text read $t10 of $r10 rows is not a point read")
      println(s"[scale] probe reads flat under 10x novel growth " +
        s"(bands $b1->$b10, text $t1->$t10, matches $m1)")
    } finally relSig()
  }

  /**
   * The EMBED twin of [[probeReadSmoke]]: [[graft.ann.EmbedIndex]]'s
   * probe reads are ∝ the PROBED BUCKETS' content, never the corpus —
   * growth that hashes into other buckets adds zero read. The proof
   * shape differs from the text smoke for an honest reason: minhash
   * band keys are effectively 2^128-unique, so novel TEXT never
   * collides with a probe's keys, but the shared LCG hyperplane
   * family saturates (its weights are an arithmetic progression, so
   * past ~10 informative planes random vectors concentrate into
   * ~2^10 effective buckets) — truly random vector growth WOULD
   * enlarge the probed buckets themselves. The smoke therefore grows
   * the corpus with vectors that provably hash OUTSIDE the batch's
   * buckets (first-component-dominated, one sign pattern per band —
   * asserted disjoint from the probe keys) and pins that the probe's
   * bucket-page and candidate-vector reads stay FLAT while the table
   * grows 10×; the LSH statistics themselves are the
   * adaptivePlanes/band dials' concern, spec'd with the in-RAM index.
   */
  def embedProbeReadSmoke(spark: SparkSession): Unit = {
    import graft.ann.{EmbedIndex, Similarity}
    import graft.sources.{Layout, PointReads}
    val dims = 16
    val p = EmbedIndex.Params(bands = 2, planesPerBand = 12, dims = dims)
    def vecsOf(ids: org.apache.spark.sql.DataFrame, salt: Int) =
      ids.select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dims - 1)), j =>
          (pmod(hash(col("id"), lit(salt), j), lit(1000)).cast("double")
            / 500.0 - 1.0).cast("float")).as("embedding"))
    // growth vectors: first component dominates, so every one lands
    // in the single sign-pattern bucket of each band — away from the
    // batch's buckets (asserted below)
    def soup(ids: org.apache.spark.sql.DataFrame) =
      ids.select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dims - 1)), j =>
          when(j === 0, lit(50.0f)).otherwise(
            (pmod(hash(col("id"), j), lit(1000)).cast("double") / 500.0
              - 1.0).cast("float"))).as("embedding"))
    val content = vecsOf(spark.range(20000).toDF("id"), 0)
    val corpus1 = content.unionByName(
      soup(spark.range(20000, 100000).toDF("id")))
    val corpus10 = content.unionByName(
      soup(spark.range(20000, 1000000).toDF("id")))
    // the batch: 6 novel vectors + 2 scaled copies of content vectors
    val batch = vecsOf(spark.range(6).toDF("id"), 2)
      .select((col("vec_id") + 91000000L).as("vec_id"), col("embedding"))
      .unionByName(content.where(col("vec_id").isin(7L, 19990L))
        .select((col("vec_id") + 92000000L).as("vec_id"),
          transform(col("embedding"), v => v * lit(2.0f)).as("embedding")))
    def keysOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      (0 until p.bands).flatMap { b =>
        df.select(Similarity.lshBucket(col("embedding"),
            p.planesPerBand, p.dims, b * p.planesPerBand).as("bucket"))
          .distinct().collect().map(_.getLong(0) + b.toLong * (1L << 40))
      }.distinct
    val bkeys = keysOf(batch)
    val soupKeys = keysOf(soup(spark.range(20000, 20004).toDF("id")))
    require(soupKeys.size == p.bands && !soupKeys.exists(bkeys.contains),
      s"fixture drifted: growth buckets $soupKeys overlap probe keys")

    def measure(tag: String, corpus: org.apache.spark.sql.DataFrame)
        : (Long, Long, Long, Long, Long) = {
      val root = s"$OutDir/eprobe_$tag"
      EmbedIndex.delete(spark, root)
      EmbedIndex.write(corpus, "vec_id", "embedding", root, p)
      val rows = corpus.count()
      val t0 = System.nanoTime()
      val matches = EmbedIndex.probe(batch, root, "vec_id", "embedding",
        0.999).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val buckets = EmbedIndex.openBuckets(spark, root)
      val bucketTotal = buckets.count()
      val bucketRead = Layout.scanOutputRows(
        buckets.filter(PointReads.keyedFilter(col("bkey"),
          bkeys.map(_.asInstanceOf[Any]))))
      val candIds = buckets
        .filter(PointReads.keyedFilter(col("bkey"),
          bkeys.map(_.asInstanceOf[Any])))
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSeq
      val vecRead = if (candIds.isEmpty) 0L else Layout.scanOutputRows(
        EmbedIndex.open(spark, root).filter(
          PointReads.keyedFilter(col("doc_id"), candIds)))
      println(f"[scale] embed probe reads $tag%-4s  ${sec}%8.2f s  " +
        f"matches=$matches cands=${candIds.size} " +
        f"buckets=$bucketRead/$bucketTotal vecs=$vecRead/$rows")
      (matches, bucketRead, bucketTotal, vecRead, rows)
    }
    val (m1, b1, _, v1, _) = measure("1x", corpus1)
    val (m10, b10, bt10, v10, r10) = measure("10x", corpus10)
    require(m10 == m1 && m1 >= 2,
      s"matched set must be scale-invariant here: $m1 vs $m10")
    require(b10 <= math.max(b1, 1L) * 4,
      s"bucket read grew with the table: $b1 -> $b10 under 10x growth")
    require(v10 <= math.max(v1, 1L) * 4,
      s"vector read grew with the table: $v1 -> $v10 under 10x growth")
    require(b10 * 3 <= bt10,
      s"bucket read $b10 of $bt10 rows is not a point read")
    require(v10 * 3 <= r10,
      s"vector read $v10 of $r10 rows is not a point read")
    println(s"[scale] embed probe reads flat under 10x off-bucket growth " +
      s"(buckets $b1->$b10, vecs $v1->$v10, matches $m1)")

    // the posting-list storage trade, MEASURED (VERDICT r17 #2):
    // bucket rows carry their vectors, so bucket-table bytes ≈
    // bands × vecs bytes by design — the dial an operator asks about
    // first when sizing an embed root (probes got one fewer serial
    // read; storage and compaction pay bands×). Asserted within
    // parquet-encoding slop so the amplification is a tracked bound,
    // not a doc sentence.
    val root10 = s"$OutDir/eprobe_10x"
    val vecsBytes = dirBytes(s"$root10/vecs")
    val bucketBytes = dirBytes(s"$root10/buckets")
    val ratio = bucketBytes.toDouble / vecsBytes
    println(f"[scale] embed posting-list store  buckets=${bucketBytes / 1024}%d KB" +
      f"  vecs=${vecsBytes / 1024}%d KB  ratio=$ratio%.2f (bands=${p.bands})")
    require(ratio >= p.bands * 0.5 && ratio <= p.bands * 2.0,
      f"bucket/vecs byte ratio $ratio%.2f left the bands× band " +
        f"[${p.bands * 0.5}%.1f, ${p.bands * 2.0}%.1f] — the posting-list " +
        "amplification drifted from its design rule of thumb")
    // two-point calibration: a second family at bands=3 over the 1×
    // corpus must land near 3× — the rule of thumb is a line through
    // the origin in bands, not a lucky constant at one dial setting.
    // planesPerBand is held at the first point's 12 so bands is the
    // ONLY dial moved (bkey entropy shifts parquet encoding of the
    // bucket column, and a planes change could masquerade as — or
    // offset — the bands scaling inside the slop window)
    val p3 = EmbedIndex.Params(bands = 3, planesPerBand = 12, dims = dims)
    val root3 = s"$OutDir/eprobe_b3"
    EmbedIndex.delete(spark, root3)
    EmbedIndex.write(corpus1, "vec_id", "embedding", root3, p3)
    val ratio3 = dirBytes(s"$root3/buckets").toDouble /
      dirBytes(s"$root3/vecs")
    println(f"[scale] embed posting-list store  bands=3 ratio=$ratio3%.2f " +
      "(1x corpus)")
    require(ratio3 >= 3 * 0.5 && ratio3 <= 3 * 2.0,
      f"bands=3 bucket/vecs ratio $ratio3%.2f left [1.5, 6.0] — the " +
        "bands× rule no longer scales with the dial")
    EmbedIndex.delete(spark, root3)
    // compaction moves the fat layout too: one settled fold collapses
    // by staging a full rewrite of BOTH tables, so bytes WRITTEN ≈
    // (1 + bands) × vecs bytes. Measured as actual task output bytes
    // (not post-compaction directory sizes, which a double-rewrite
    // regression would leave unchanged) and bounded against the same
    // rule of thumb; wall clock print-only.
    EmbedIndex.foldBatch(root10, batch, "vec_id", "embedding", 0L)
    val compact = CpuMeter.measure(spark.sparkContext)(
      EmbedIndex.compactThrough(spark, root10, 0L))
    val moved = compact.bytesWritten
    println(f"[scale] embed compact writes     ${compact.wallS}%8.2f s  " +
      f"${moved / 1024}%d KB  (${moved.toDouble / vecsBytes}%.2fx vecs bytes)")
    require(moved >= vecsBytes,
      s"compaction wrote $moved bytes — less than one vecs copy; the " +
        "output-bytes measurement lost its signal")
    require(moved <= (1L + p.bands) * 2L * vecsBytes,
      s"compaction wrote $moved bytes vs vecs $vecsBytes — past the " +
        s"(1+bands)× (=${1 + p.bands}) posting-list rewrite rule of thumb")
  }

  /**
   * THE COMPOSED PRODUCTION LOOP at 10×, maintenance firing
   * MID-STREAM — the steady state every standing-structure scaladoc
   * promises, run as one loop with nothing hand-cranked: a gated
   * stream (dq + capped drift + near-dup probe) whose INDEXED accept
   * router folds each passing batch into the standing curated corpus
   * AND its sibling indexes — at-rest signatures and cluster labels
   * over exactly the curation survivors — with one compaction dial
   * (`acceptIntoCorpusIndexed(maintainEvery = 3)` — corpus and
   * settled-index compactions fire INSIDE the loop) and then runs
   * the release cadence (`maintainFromCorpus(everyBatches = 2,
   * keep = 2)` — versions cut and pruned INSIDE the loop).
   *
   * Enforced claims, all on load-immune byte/row metrics:
   *  - every fold lands batch-proportional bytes (≪ the init
   *    snapshot), INCLUDING folds immediately after a compaction and
   *    after a release cut — maintenance never makes the next fold
   *    re-pay corpus-sized work;
   *  - the fold-partition count never exceeds the dial;
   *  - committed versions stay budget-bounded in a narrow size band
   *    across cuts;
   *  - the loop's final corpus equals the from-scratch curation of
   *    everything it saw (count), across compactions and cuts;
   *  - the signature, cluster, AND embedding tables stay in ID
   *    LOCKSTEP with the corpus across every maintenance boundary.
   *
   * The embed gate runs ON and AT REST: the feed carries a vector
   * column, every batch probes the standing [[graft.ann.EmbedIndex]]
   * (the gate's corpus argument never carries vectors, so nothing
   * CAN re-hash the corpus), and the router folds the survivors'
   * vectors into the same table on the shared cadence. These batches
   * are deliberately far past the point-read key cap, so the gate
   * exercises the documented above-cap scan fallback; the bounded
   * point-read path is pinned at micro-batch size in EmbedIndexSpec
   * and at 10× in [[embedProbeReadSmoke]].
   */
  def composedLoopSmoke(spark: SparkSession): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types.StructType
    import graft.ann.EmbedIndex
    import graft.pipeline.{CuratedCorpus, DqGate, IngestStream, PipelineQueries, Release}

    // deterministic zero-mean embeddings ride the feed — the embed
    // gate's production shape (hash-based: unique per (id, dim))
    val dims = 16
    val embParams = EmbedIndex.Params(bands = 2, planesPerBand = 16,
      dims = dims)
    val docs = Tables(spark, OutDir, "documents")
      .select("doc_id", "source", "lang", "text")
      .withColumn("embedding",
        transform(sequence(lit(0), lit(dims - 1)), j =>
          (pmod(hash(col("doc_id"), j), lit(1000)).cast("double") / 500.0
            - 1.0).cast("float")))
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val half = mx / 2
    val corpus = docs.where(col("doc_id") < half).drop("embedding")
    val cc = s"$OutDir/loop_corpus"
    val sigs = s"$OutDir/loop_sigs"
    val clusters = s"$OutDir/loop_clusters"
    val emb = s"$OutDir/loop_emb"
    val root = s"$OutDir/loop_release"
    CuratedCorpus.delete(spark, cc)
    graft.dedup.SignatureIndex.delete(spark, sigs)
    graft.dedup.ClusterIndex.delete(spark, clusters)
    EmbedIndex.delete(spark, emb)
    Release.delete(spark, root)
    val ti = System.nanoTime()
    CuratedCorpus.init(corpus, cc)
    // per-snapshot index bootstrap over the curated base — the rare
    // whole-corpus pass the folds amortize away; the embed twin's
    // base is the curated ids' vectors
    IngestStream.bootstrapIndexes(spark, cc, sigs, clusters,
      graft.dedup.DedupQueries.LshPairsThreshold)
    EmbedIndex.write(
      CuratedCorpus.open(spark, cc).select("doc_id")
        .join(docs.select("doc_id", "embedding"), "doc_id"),
      "doc_id", "embedding", emb, embParams)
    val initSec = (System.nanoTime() - ti) / 1e9
    val initBytes = dirBytes(s"$cc/docs/__batch=-1")

    // monotone-id feed slices; empty-text rows stay out of the FEED
    // (they would flip the dq gate) but are curated away from the
    // init corpus identically, so the final-equivalence count holds
    val nBatches = 6
    val cuts = (0 to nBatches).map(i => half + (mx - half + 1) * i / nBatches)
    val feedRows = (0 until nBatches).map { b =>
      docs.where(col("doc_id") >= cuts(b) && col("doc_id") < cuts(b + 1))
        .where(length(trim(col("text"))) > 0)
        .withColumn("__del", lit(null).cast("boolean"))
        .collect()
    }
    val schema = StructType.fromDDL("doc_id BIGINT, source STRING, " +
      "lang STRING, text STRING, embedding ARRAY<FLOAT>, __del BOOLEAN")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    // per batch: (rows, foldBytes or -1 when compacted away, folds
    // after, compacted?, version cut, accept+cadence seconds)
    val stats = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Boolean, Option[Int], Double)]
    // ids deleted mid-stream (the all-instruction feed batch after
    // doc batch 1) — the loop must converge on from-scratch-minus-
    // these with its own cadences doing the purge
    val midRetracted = scala.collection.mutable.Set.empty[Long]
    val (writer, release) = IngestStream.gated(
      mem.toDF(), corpus, "doc_id", "text",
      Seq(DqGate.Rule("text_nonempty",
        DqGate.notSatisfied(length(trim(col("text"))) > 0))),
      threshold = 0.5,
      embed = Some(IngestStream.EmbedGate("embedding", embParams.bands,
        embParams.planesPerBand, embParams.dims, threshold = 0.999,
        atRestPath = Some(emb))),
      cappedDriftK = Some(512),
      instructions = Some(col("__del"))) { (batch, report) =>
      require(report.dqPass, s"clean batch ${report.batchId} failed dq")
      val t0 = System.nanoTime()
      val compacted = IngestStream.acceptIntoCorpusIndexedWithDeletes(
        batch, report, "__del",
        cc, sigs, clusters, graft.dedup.DedupQueries.LshPairsThreshold,
        maintainEvery = Some(3), embed = Some((emb, "embedding")))
      val foldsAfter = CuratedCorpus.foldCount(spark, cc)
      // measure the batch's own docs partition if it still stands —
      // an INDEX compaction (also reported via `compacted`) must not
      // hide the corpus fold's byte metric; only the corpus
      // compaction folding the partition away does (bytes = 0)
      val fb = dirBytes(s"$cc/docs/__batch=${report.batchId}")
      val foldBytes = if (fb == 0) -1L else fb
      val cut = Release.maintainFromCorpus(spark, cc, root, Release.Seed,
        Release.Budget, shards = 16, everyBatches = 2, keep = 2)
      val sec = (System.nanoTime() - t0) / 1e9
      stats += ((report.rows, foldBytes, foldsAfter, compacted, cut, sec))
    }
    val q = writer.start()
    try {
      feedRows.zipWithIndex.foreach { case (rows, i) =>
        mem.addData(rows.toIndexedSeq: _*)
        q.processAllAvailable()
        if (i == 1) {
          // a delete request arrives MID-STREAM, THROUGH THE FEED: an
          // all-instruction batch (stream batch 2) naming every 9th
          // standing doc — the production shape end to end: the
          // instructions bypass the gates, the delete lane retracts
          // across all four structures on the stream's own clock, and
          // the LOOP'S OWN maintenance cadences (the corpus compaction
          // at the third doc batch, the indexes' settled
          // compactThrough at the fourth) purge and clear the
          // tombstones with nothing hand-cranked, while four more doc
          // batches fold through the filtered reads. Asserted after
          // the stream ends.
          midRetracted ++= CuratedCorpus.open(spark, cc)
            .where(col("doc_id") % 9 === 0)
            .select("doc_id").collect().map(_.getLong(0))
          mem.addData(midRetracted.toSeq.sorted.map(id =>
            org.apache.spark.sql.Row(id, null, null, null, null,
              java.lang.Boolean.TRUE)): _*)
          q.processAllAvailable()
        }
      }
    } finally { q.stop(); release() }

    stats.zipWithIndex.foreach { case ((rows, fb, folds, comp, cut, sec), i) =>
      println(f"[scale] loop batch $i%d            ${sec}%8.2f s  rows=$rows " +
        f"foldKB=${if (fb < 0) -1 else fb / 1024}%d folds=$folds " +
        s"compacted=$comp cut=${cut.getOrElse(-1)}")
    }
    println(f"[scale] loop init                ${initSec}%8.2f s " +
      f"(${initBytes / 1024}%d KB)")

    require(stats.size == nBatches + 1, // +1: the all-instruction delete batch
      s"expected ${nBatches + 1} loop reports, got ${stats.size}")
    val compactions = stats.count(_._4)
    val versionsCut = stats.flatMap(_._5)
    require(compactions >= 2, s"compaction cadence fired $compactions times")
    require(versionsCut.size >= 3, s"release cadence cut $versionsCut")
    require(stats.forall(_._3 <= 3), "fold-partition count exceeded the dial")
    // batch-proportional folds, ACROSS the maintenance boundaries:
    // every measured fold is far under the init snapshot, and at
    // least one measured fold follows a compaction and one follows a
    // release cut — the post-maintenance fold is as cheap as any
    val measured = stats.filter(_._2 >= 0)
    require(measured.nonEmpty &&
      measured.map(_._2).max * 4 < initBytes,
      s"folds not batch-proportional: ${measured.map(_._2)} vs init $initBytes")
    val afterComp = stats.zipWithIndex.drop(1)
      .exists { case (s, i) => stats(i - 1)._4 && s._2 >= 0 }
    val afterCut = stats.zipWithIndex.drop(1)
      .exists { case (s, i) => stats(i - 1)._5.isDefined && s._2 >= 0 }
    require(afterComp && afterCut,
      "flatness claim must cover a post-compaction and a post-cut fold")
    // budget-bounded versions: the retained cuts' bytes sit in a
    // narrow band (the budget caps the kept set, so a later cut from
    // a larger corpus is not a larger release)
    val retained = Seq(versionsCut.max - 1, versionsCut.max)
      .filter(_ >= 1).map(v => dirBytes(s"$root/v$v"))
    require(retained.max <= retained.min * 3,
      s"version sizes diverged: $retained")
    require(Release.latestVersion(spark, root).contains(versionsCut.max))
    // DELETION COMPLETENESS through the release lane: every version
    // cut after the batch-1 retraction excludes the deleted docs, and
    // keep-N retention has pruned the one pre-retraction cut — so no
    // retracted byte survives anywhere under the release root either.
    // (The production deletion story: retract → the cadence's next
    // cut excludes → retention retires the last version that held it.)
    require(dirBytes(s"$root/v1") == 0,
      "the pre-retraction release version must be pruned")
    Seq(versionsCut.max - 1, versionsCut.max).foreach { v =>
      val held = Release.openVersion(spark, root, v)
        .where(col("doc_id") % 9 === 0).select("doc_id")
        .collect().map(_.getLong(0)).filter(midRetracted.contains)
      require(held.isEmpty,
        s"release v$v still holds ${held.length} retracted docs")
    }
    // the mid-stream delete's tombstones were purged AND cleared by
    // the loop's own cadences — no operator step, no standing filter
    require(midRetracted.nonEmpty, "the batch-1 retraction found no targets")
    Seq(cc, sigs, clusters, emb).foreach(r =>
      require(dirBytes(s"$r/tombs") == 0,
        s"in-loop maintenance left tombstones standing under $r"))
    // the composed loop converged on the from-scratch answer minus
    // exactly the mid-stream delete (retained hashes keep later exact
    // copies of retracted content suppressed in BOTH paths, so the
    // subtraction is exact)
    val got = CuratedCorpus.open(spark, cc).count()
    val want = PipelineQueries.curatedTrainDocs(docs).count() -
      midRetracted.size
    require(got == want,
      s"loop corpus holds $got rows; from-scratch minus the " +
        s"${midRetracted.size} mid-stream deletes holds $want")
    // and the sibling indexes stayed in ID LOCKSTEP with the corpus
    // across every compaction and cut
    val corpusIds = CuratedCorpus.open(spark, cc)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    require(midRetracted.forall(!corpusIds.contains(_)),
      "a mid-stream-retracted doc resurfaced in the corpus")
    val sigIds = graft.dedup.SignatureIndex.open(spark, sigs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val clusterIds = graft.dedup.ClusterIndex.open(spark, clusters)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val embIds = EmbedIndex.open(spark, emb)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    require(sigIds == corpusIds,
      s"signature index drifted: ${sigIds.size} vs ${corpusIds.size} ids")
    require(clusterIds == corpusIds,
      s"cluster index drifted: ${clusterIds.size} vs ${corpusIds.size} ids")
    require(embIds == corpusIds,
      s"embed index drifted: ${embIds.size} vs ${corpusIds.size} ids")
    // the at-rest fsck verb agrees: the loop's final state is clean
    // by the same invariants, checked from OUTSIDE the loop
    val findings = graft.pipeline.Fsck.check(spark, cc, sigs, clusters,
      Some(emb))
    require(findings.isEmpty, s"fsck findings on the loop's tables: $findings")
    println(f"[scale] loop steady state        compactions=$compactions " +
      s"cuts=${versionsCut.mkString(",")} corpusRows=$got " +
      s"(≡ from-scratch minus ${midRetracted.size} mid-stream deletes, " +
      "purged+cleared by the loop's own cadences; sig+cluster+embed " +
      "indexes in id lockstep; fsck clean)")

    // ---- the composed DELETE at 10×: retraction is the loop's last
    // production verb. Claims, all on load-immune byte/row metrics:
    //  - retractDocs writes O(ids) tombstones and NOT ONE data byte
    //    (every data dir byte-identical across the call);
    //  - all four structures stop answering for the ids AT ONCE
    //    (id lockstep of the delete);
    //  - fsck sees exactly the informational tombs-standing state;
    //  - each root's own compaction purges physically, clears the
    //    tombstones, and the final state is from-scratch-minus-
    //    retracted with lockstep and a clean fsck again.
    import graft.dedup.{ClusterIndex, SignatureIndex}
    val dataDirs = Seq(s"$cc/docs", s"$cc/hashes", s"$sigs/sigs",
      s"$sigs/bands", s"$clusters/assignments", s"$clusters/relabel",
      s"$emb/vecs", s"$emb/buckets")
    val bytesBefore = dataDirs.map(d => d -> dirBytes(d)).toMap
    val retractIds = corpusIds.filter(_ % 5 == 0)
    require(retractIds.nonEmpty && retractIds.size * 3 < corpusIds.size)
    val tr = System.nanoTime()
    IngestStream.retractDocs(spark,
      spark.createDataFrame(retractIds.toSeq.sorted.map(Tuple1(_)))
        .toDF("doc_id"),
      "doc_id", CuratedCorpus.batchWatermark(spark, cc),
      cc, sigs, clusters, Some(emb))
    val retractSec = (System.nanoTime() - tr) / 1e9
    dataDirs.foreach(d => require(dirBytes(d) == bytesBefore(d),
      s"retraction rewrote data under $d"))
    val tombBytes = Seq(cc, sigs, clusters, emb)
      .map(r => dirBytes(s"$r/tombs"))
    require(tombBytes.forall(_ > 0), s"tombstones must stand: $tombBytes")
    val expected = corpusIds -- retractIds
    def idsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    require(idsOf(CuratedCorpus.open(spark, cc)) == expected &&
      idsOf(SignatureIndex.open(spark, sigs)) == expected &&
      idsOf(ClusterIndex.open(spark, clusters)) == expected &&
      idsOf(EmbedIndex.open(spark, emb)) == expected,
      "retraction must silence all four structures at once")
    // the lockstep VIEW answers the same sets from ONE shared
    // watermark — the consistent-read face over the live
    // tombstones-standing state, embed leg included, at 10×
    val lv = IngestStream.lockstepView(spark, cc, sigs, clusters, Some(emb))
    require(Seq(lv.docs, lv.signatures, lv.clusters, lv.vectors.get)
      .forall(df => idsOf(df) == expected),
      s"lockstepView legs disagree at watermark ${lv.watermark}")
    val tombFindings = graft.pipeline.Fsck.check(spark, cc, sigs, clusters,
      Some(emb))
    require(tombFindings.size == 4 &&
      tombFindings.forall(_.kind == "tombs-standing") &&
      tombFindings.map(_.root).toSet == Set(cc, sigs, clusters, emb),
      s"fsck must report exactly the four standing tombstones: $tombFindings")
    // each root's own cadence purges + clears
    val tp = System.nanoTime()
    CuratedCorpus.compact(spark, cc)
    SignatureIndex.compact(spark, sigs)
    ClusterIndex.compact(spark, clusters)
    EmbedIndex.compact(spark, emb)
    val purgeSec = (System.nanoTime() - tp) / 1e9
    Seq(cc, sigs, clusters, emb).foreach(r =>
      require(dirBytes(s"$r/tombs") == 0, s"tombstones must clear under $r"))
    val rawDead = Seq(s"$cc/docs", s"$sigs/sigs", s"$clusters/assignments",
      s"$emb/vecs").map(d => spark.read.parquet(d)
        .where(col("doc_id") % 5 === 0).count())
    require(rawDead.forall(_ == 0L), s"purge must be physical: $rawDead")
    require(idsOf(CuratedCorpus.open(spark, cc)) == expected &&
      idsOf(SignatureIndex.open(spark, sigs)) == expected &&
      idsOf(ClusterIndex.open(spark, clusters)) == expected &&
      idsOf(EmbedIndex.open(spark, emb)) == expected,
      "purge must preserve the retracted end state")
    // the operator verb: ONE walk of the whole root layout (corpus
    // trio + the release root the in-loop cadence cuts committed)
    val layout = graft.pipeline.Fsck.Layout(cc, sigs, clusters,
      Some(emb), releases = Seq(root))
    require(graft.pipeline.Fsck.checkAll(spark, layout).isEmpty,
      "fsck must be clean after the purge")
    // AS-OF release cut AT the lockstep watermark (VERDICT r14 #4 /
    // r15 #3): the view's clock is the cut's clock — the composed
    // consumer lockstepView exists for. Cut strictly after the purge,
    // so the version also proves openAt exactly at the collapse floor
    // (the fully-compacted corpus reads through the marker alone).
    val lv2 = IngestStream.lockstepView(spark, cc, sigs, clusters, Some(emb))
    require(lv2.watermark == lv.watermark,
      s"purge must not move the lockstep clock: ${lv2.watermark} vs ${lv.watermark}")
    val vNext = Release.latestVersion(spark, root).getOrElse(0) + 1
    Release.buildFromCorpus(spark, cc, root, vNext, Release.Seed,
      Release.Budget, shards = 16, atBatch = Some(lv2.watermark))
    val cutIds = idsOf(Release.openVersion(spark, root, vNext))
    require(cutIds.nonEmpty && cutIds.subsetOf(idsOf(lv2.docs)),
      "as-of cut ids must be a subset of the view's corpus leg")
    val lin = Release.lineageJson(spark, root, vNext)
    require(lin.exists(_.contains(s""""corpus_batch":${lv2.watermark}""")),
      s"lineage must record the pinned watermark ${lv2.watermark}, got $lin")
    // the same one-verb layout walk again after the as-of cut: the
    // epilogue cut must leave no partial builds, no orphaned
    // manifests, and monotone lineage clocks across ALL five roots
    val relFindings = graft.pipeline.Fsck.checkAll(spark, layout)
    require(relFindings.isEmpty,
      s"fsck must be clean after the as-of cut: $relFindings")
    println(f"[scale] loop composed retract    ${retractSec}%8.2f s " +
      f"purge ${purgeSec}%6.2f s  ids=${retractIds.size} " +
      s"tombKB=${tombBytes.map(_ / 1024).mkString(",")} " +
      "(zero data bytes written; 4-way lockstep; physical purge; fsck " +
      s"clean; as-of cut v$vNext at w=${lv2.watermark})")
  }

  /**
   * Versioned training-data release at 10×: the full composed build
   * (curate → budget fill → deal → sharded text layout + manifest)
   * followed by the cross-session read path. The 10× corpus is
   * replicated, so the exact-dedup stage collapses the copies — the
   * release's row count stays budget-bounded while the BUILD does
   * 10× the scan/dedup work, which is the cost being timed. Open
   * must be listing + manifest read — orders of magnitude under the
   * build.
   */
  def releaseSmoke(spark: SparkSession): Unit = {
    import graft.pipeline.Release
    val docs = Tables(spark, OutDir, "documents")
    val root = s"$OutDir/release"
    // the smoke reuses OutDir across runs; a prior run's versions
    // would shadow this run's v1 as "latest"
    Release.delete(spark, root)
    val t0 = System.nanoTime()
    Release.build(docs, root, 1, Release.Seed, Release.Budget, shards = 16)
    val build = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val n = Release.open(spark, root).count()
    val open = (System.nanoTime() - t1) / 1e9
    println(f"[scale] release build v1        ${build}%8.2f s  open+count ${open}%6.2f s" +
      f"  rows=$n  (${dirBytes(root) / 1024}%d KB)")
    require(n > 0, "release must keep rows at 10x")
    require(Release.manifestJson(spark, root).contains("\"version\":1"))

    // the incremental path: standing curated corpus (init once = the
    // rare whole-corpus pass; folds = batch-sized), then v2 cut FROM
    // the standing table — a budget fill over pre-counted narrow rows.
    // The claim being measured: fold ≪ init, and the standing-table
    // build ≪ the full build (it re-curates nothing).
    import graft.pipeline.CuratedCorpus
    val cc = s"$OutDir/curated_corpus"
    val mx = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
      .head().getLong(0)
    val (cut1, cut2) = (mx * 8 / 10, mx * 9 / 10)
    val ti = System.nanoTime()
    CuratedCorpus.init(docs.where(col("doc_id") < cut1), cc)
    val init = (System.nanoTime() - ti) / 1e9
    val tf = System.nanoTime()
    CuratedCorpus.foldBatch(cc,
      docs.where(col("doc_id") >= cut1 && col("doc_id") < cut2), 0L)
    CuratedCorpus.foldBatch(cc, docs.where(col("doc_id") >= cut2), 1L)
    val fold = (System.nanoTime() - tf) / 1e9
    val tb = System.nanoTime()
    Release.buildFromCorpus(spark, cc, root, 2, Release.Seed,
      Release.Budget, shards = 16)
    val incr = (System.nanoTime() - tb) / 1e9
    // batch-proportionality on a LOAD-IMMUNE metric (the ivf-append
    // precedent): the two 10% folds must land well under the 80%
    // init's bytes — wall-clock is printed for observability but a
    // busy box must not flip the verdict
    val initBytes = dirBytes(s"$cc/docs/__batch=-1")
    val foldBytes = dirBytes(s"$cc/docs/__batch=0") +
      dirBytes(s"$cc/docs/__batch=1")
    println(f"[scale] curated corpus          init ${init}%6.2f s " +
      f"(${initBytes / 1024}%d KB)  2 folds ${fold}%6.2f s " +
      f"(${foldBytes / 1024}%d KB)  v2 from standing ${incr}%6.2f s")
    require(Release.latestVersion(spark, root).contains(2))
    require(foldBytes * 2 < initBytes,
      s"folds landed $foldBytes bytes vs init $initBytes — not batch-proportional")

    // maintenance cadence: compaction folds the batch partitions into
    // the base (file count drops, visible rows identical) and the v3
    // cut from the compacted table still answers v2's audit — checked
    // on the manifest fingerprint, a load-immune metric
    def docFiles(): Long = {
      val fs = new org.apache.hadoop.fs.Path(cc)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$cc/docs"), true)
      var n = 0L
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    val filesBefore = docFiles()
    val v2Manifest = Release.manifestJson(spark, root)
    val tc = System.nanoTime()
    CuratedCorpus.compact(spark, cc)
    val compact = (System.nanoTime() - tc) / 1e9
    Release.buildFromCorpus(spark, cc, root, 3, Release.Seed,
      Release.Budget, shards = 16)
    val v3Manifest = Release.manifestJson(spark, root)
    println(f"[scale] corpus compact          ${compact}%6.2f s" +
      f"  files ${filesBefore}%d -> ${docFiles()}%d")
    require(docFiles() < filesBefore,
      "compaction must shrink the table's file count at 10x")
    def strip(m: String) = m.replaceAll("\"version\":\\d+,", "")
    require(strip(v3Manifest) == strip(v2Manifest),
      "a release cut from the compacted table must be bit-identical")
  }

  /** One full ingest-stack pass; returns per-batch
    * (dqPass, drift, nearDupMatches, embedDupMatches). */
  private def ingestSmokeRun(spark: SparkSession,
      sketchHead: Boolean): Seq[(Boolean, Double, Long, Long)] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types.StructType
    import graft.pipeline.{DqGate, IngestStream}

    val rawDocs = Tables(spark, OutDir, "documents")
    val embTable = Tables(spark, OutDir, "embeddings")
    val nVecsX = embTable.count()
    // attach a vector to every document so the embed gate has a column
    // to probe. Index by doc_id DIV 10 (mod the vector count): each
    // decade of doc ids shares one vector, so every feed doc
    // (doc_id % 10 ∈ {8,9}) has EXACT vector duplicates among its
    // decade's corpus docs (doc_id % 10 < 8) — the exact-duplicate
    // shape the embedding index must catch. (doc_id % nVecsX would
    // NOT do this: nVecsX is a multiple of 10, so that mapping
    // preserves doc_id mod 10 and the corpus/feed vector sets would
    // be disjoint.)
    val docs = rawDocs.join(
        embTable.select(col("vec_id"), col("embedding")),
        (rawDocs("doc_id") / 10).cast("long") % nVecsX === embTable("vec_id"))
      .select("doc_id", "text", "embedding")
    val corpus = docs.filter(col("doc_id") % 10 < 8)
    // held-out rows feed the stream; fresh ids per batch
    val feedRows = docs.filter(col("doc_id") % 10 >= 8).collect()
    val nBatches = 4
    val per = feedRows.length / nBatches
    val schema = StructType.fromDDL(
      "doc_id BIGINT, text STRING, embedding ARRAY<FLOAT>")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    val reports = scala.collection.mutable.ArrayBuffer
      .empty[(IngestStream.BatchReport, Double)]
    var t0 = 0L
    val batches = scala.collection.mutable.Map.empty[Long, org.apache.spark.sql.DataFrame]
    val (writer, release) = IngestStream.gated(
      mem.toDF(), corpus, "doc_id", "text",
      Seq(DqGate.Rule("text_nonempty",
        DqGate.notSatisfied(length(trim(col("text"))) > 0))),
      threshold = 0.5,
      embed = Some(IngestStream.EmbedGate("embedding",
        bands = 3, planesPerBand = 6, dims = 64, threshold = 0.2)),
      cappedDriftK = Some(512),
      sketchSelectedHead = sketchHead) { (batch, report) =>
      reports += ((report, (System.nanoTime() - t0) / 1e9))
      if (!report.dqPass)
        batches(report.batchId) = batch.sparkSession
          .createDataFrame(batch.collectAsList(), batch.schema)
    }
    // fresh dir per run: quarantine appends, and stale batch ids from
    // a previous smoke run would inflate the count check
    val quarDir = java.nio.file.Files
      .createTempDirectory("graft-scale-quar").toString + "/q"
    // Executor CPU per batch — the LOAD-IMMUNE amortization metric:
    // wall clock on a shared box measures the box (a co-tenant spike
    // once read a clean batch at 2× batch 0 and failed the old
    // seconds-based gate), while CPU nanoseconds measure the work.
    // Serial batches + the meter's bus drain at each boundary
    // attribute tasks to their batch.
    val cpuPerBatch = scala.collection.mutable.ArrayBuffer.empty[Double]
    val q = writer.start()
    try {
      (0 until nBatches).foreach { b =>
        val slice = feedRows.slice(b * per, (b + 1) * per)
        val rows =
          if (b == nBatches - 2) slice.zipWithIndex.map { case (r, i) =>
            // poisoned: 10% blank, the rest a flipped vocabulary
            // (embeddings kept, so the embed gate still sees the feed)
            if (i % 10 == 0) Row(r.getLong(0) + 10000000L, "   ", r.get(2))
            else Row(r.getLong(0) + 10000000L,
              s"zzz qqq www eee rrr ttt yyy uuu batch$b row$i", r.get(2))
          }
          else slice.zipWithIndex.map { case (r, _) =>
            Row(r.getLong(0) + (b + 1) * 10000000L, r.getString(1), r.get(2))
          }
        cpuPerBatch += CpuMeter.measure(spark.sparkContext) {
          t0 = System.nanoTime()
          mem.addData(rows.toIndexedSeq: _*)
          q.processAllAvailable()
        }.cpuS
      }
    } finally {
      q.stop(); release()
    }

    val tag = if (sketchHead) "ingest/sketch" else "ingest/exact "
    reports.zipWithIndex.foreach { case ((r, sec), i) =>
      val gates = r.gateSeconds
        .map { case (g, s) => f"$g=$s%.2fs" }.mkString(" ")
      println(f"[scale] $tag batch $i    ${sec}%8.2f s  " +
        f"cpu=${cpuPerBatch(i)}%6.2f s  rows=${r.rows} " +
        f"dq=${r.dqPass} drift=${r.drift}%.3f dups=${r.nearDupMatches} " +
        s"embdups=${r.embedDupMatches}  [$gates]")
    }
    require(reports.size == nBatches, s"expected $nBatches reports")
    // all four gates ran and reported their cost on every batch
    require(reports.forall(_._1.gateSeconds.map(_._1) ==
      Seq("dq", "drift", "text", "embed")),
      "every batch must report all four gate timings")
    val poisoned = reports(nBatches - 2)._1
    require(!poisoned.dqPass && poisoned.drift > reports.head._1.drift,
      "poisoned batch must fail dq and raise (capped) drift")
    // the feed replicates corpus vectors, so every CLEAN batch must
    // hit the standing embedding index
    require(reports.zipWithIndex.forall { case ((r, _), i) =>
      i == nBatches - 2 || r.embedDupMatches > 0 },
      "clean batches must match the standing embedding index")
    // standing-index amortization: batch 0 pays the corpus index
    // materialization (tokenize + band the whole 10× corpus); later
    // CLEAN batches pay only batch-sized probes against the cached
    // index. Gated on executor CPU — the work — not wall clock (which
    // gated here until r17 and tripped on co-tenant load spikes): a
    // re-materializing regression makes every later batch pay
    // batch-0's build AGAIN, i.e. laterCpu ≥ firstCpu, so any bound
    // strictly under 1.0 catches it. Measured here: 0.63×first with a
    // cold JIT (lane-only run), 0.72-0.74× warm (full-chain run) —
    // 0.9 separates both from the ≥1.0 regression signature. Two
    // bounds: the MEAN of the later clean batches at 0.9 (the full
    // re-materialization regression re-pays the build on EVERY later
    // batch, so the mean catches it with the original margin) and the
    // MAX at 0.95 (an intermittent regression — one batch re-paying ≥
    // 1.0×first — must not hide behind a fast sibling's average; the
    // wider max bound keeps ~0.2×first of headroom over the 0.72-0.74×
    // warm wobble so attribution noise alone cannot flake it).
    val firstCpu = cpuPerBatch.head
    val laterCleanCpu = cpuPerBatch.drop(1).zipWithIndex
      .collect { case (s, i) if i != nBatches - 3 => s }
    val laterMean = laterCleanCpu.sum / laterCleanCpu.length
    require(laterMean <= math.max(firstCpu * 0.9, 2.0) &&
      laterCleanCpu.max <= math.max(firstCpu * 0.95, 2.0),
      f"per-batch work not flat: firstCpu=$firstCpu%.2f mean " +
        f"laterCpu=$laterMean%.2f (max ${laterCleanCpu.max}%.2f) — " +
        "later clean batches re-paid the standing-index build")
    // quarantine: the poisoned batch lands stamped and re-readable
    batches.get(poisoned.batchId).foreach { b =>
      IngestStream.quarantine(b, poisoned, "dq:text_nonempty", quarDir)
      val n = spark.read.parquet(quarDir)
        .filter(col("__batch_id") === poisoned.batchId).count()
      println(s"[scale] quarantined rows=$n (batch ${poisoned.batchId})")
      require(n == poisoned.rows, s"quarantine wrote $n of ${poisoned.rows}")
    }
    reports.map(r => (r._1.dqPass, r._1.drift,
      r._1.nearDupMatches, r._1.embedDupMatches)).toSeq
  }

  /**
   * Shard-file materialization of the seeded shuffle deal at 10×:
   * the epoch-0 layout a training reader consumes (shard dirs,
   * pos-sorted files — Layout.writeSharded). One hash exchange +
   * shard-local sorts; no total-order sort at any size. The
   * assertion is structural (row conservation + a spot-checked
   * file's pos order), the wall-clock and bytes are informational.
   */
  def shardedDealSmoke(spark: SparkSession): Unit = {
    import graft.dedup.Dedup
    import graft.sources.Layout
    val docs = Tables(spark, OutDir, "documents")
    val shards = 64
    val out = s"$OutDir/epoch0_shards"
    val t0 = System.nanoTime()
    Layout.writeSharded(
      Dedup.shuffleDeal(docs, "doc_id", seed = 7L, shards)
        .select("doc_id", "shard", "pos"),
      "shard", "pos", out)
    val sec = (System.nanoTime() - t0) / 1e9
    val n = spark.read.parquet(out).count()
    println(f"[scale] sharded deal write       ${sec}%8.2f s  rows=$n  " +
      f"(${dirBytes(out) / 1024}%d KB, $shards shards)")
    require(n == docs.count(), "sharded deal layout lost rows")
    val firstShard = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard=")).minBy(_.getName)
    val f = firstShard.listFiles().filter(_.getName.endsWith(".parquet")).head
    val pos = spark.read.parquet(f.getPath).select("pos")
      .collect().map(_.getLong(0)).toSeq
    require(pos == pos.sorted, s"${f.getName} not pos-sorted at 10x")
  }

  /**
   * At-rest cluster-assignment table at 10×: the per-SNAPSHOT cost
   * (LSH funnel + log-round component resolve + persist) vs the
   * steady-state cost any LATER session pays (ClusterIndex.open —
   * one assignment scan + the composed relabel broadcast). The
   * session-RAM assignment cache re-pays the left column every
   * session; the at-rest table makes it once-per-snapshot. The
   * enforced claim is the JOB-COUNT asymmetry — the open is a
   * handful of jobs (scan + relabel broadcast) while the resolve is
   * the whole multi-job dedup pipeline (shingle, band, bucket join,
   * verify, component rounds, persist) — because job counts measure
   * the plan shape, not the box (the former `openSec < resolveSec`
   * gate could flake on a co-tenant spike during the short open leg;
   * wall clock is printed as information only).
   */
  def clusterIndexSmoke(spark: SparkSession): Unit = {
    import graft.dedup.{ClusterIndex, Clusters, Dedup}
    val docs = Tables(spark, OutDir, "documents")
    val nDocs = docs.count()
    val path = ClusterIndex.scratchPath(OutDir)
    try {
      val resolve = CpuMeter.measure(spark.sparkContext) {
        val (pairs, release) = Dedup.nearDupPairsManaged(
          docs, "doc_id", "text", graft.dedup.DedupQueries.LshPairsThreshold)
        ClusterIndex.write(
          Clusters.resolve(docs, "doc_id", pairs, "doc_a", "doc_b")
            .select("doc_id", "cluster"),
          path)
        release()
      }
      val open = CpuMeter.measure(spark.sparkContext)(
        ClusterIndex.open(spark, path).count())
      val (n, resolveJobs, openJobs) = (open.value, resolve.jobs, open.jobs)
      println(f"[scale] cluster index at rest    resolve+write ${resolve.wallS}%6.2f s" +
        f" ($resolveJobs%d jobs)  open+probe ${open.wallS}%6.2f s ($openJobs%d jobs)  rows=$n")
      require(n == nDocs, s"at-rest assignment table lost rows: $n of $nDocs")
      require(openJobs * 2 <= resolveJobs,
        s"open submitted $openJobs jobs vs the resolve's $resolveJobs — " +
          "the at-rest table no longer skips the resolve pipeline")
    } finally ClusterIndex.delete(spark, path)
  }

  /**
   * Standing IVF index maintenance at 10×: a 10%-of-corpus batch
   * APPENDED against resident centroids (IvfIndex.append — assign +
   * write only the batch's partitions) vs the full-corpus rewrite the
   * pre-append discipline would pay per batch. The enforced claim is
   * the BYTES-WRITTEN ratio — the append touches batch-proportional
   * data, the rewrite touches everything — because that is what scales
   * (at this toy size both writes are fixed-cost dominated, so
   * wall-clock is printed as information but a loaded box must not
   * flap the smoke).
   */
  def ivfAppendSmoke(spark: SparkSession): Unit = {
    import graft.ann.{IvfIndex, Similarity}
    val emb = Tables(spark, OutDir, "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", 8)
    val corpus = emb.filter(col("vec_id") % 10 < 9)
    val batch = emb.filter(col("vec_id") % 10 === 9)
    val appendPath = IvfIndex.scratchPath(OutDir)
    IvfIndex.write(corpus, "vec_id", "embedding", cents, appendPath)
    val baseBytes = dirBytes(s"$appendPath/corpus")

    val t0 = System.nanoTime()
    IvfIndex.append(batch, "vec_id", "embedding", cents, appendPath, 0L)
    val appendSec = (System.nanoTime() - t0) / 1e9
    val appendBytes = dirBytes(s"$appendPath/corpus") - baseBytes
    val rewritePath = IvfIndex.scratchPath(OutDir)
    val t1 = System.nanoTime()
    IvfIndex.write(emb, "vec_id", "embedding", cents, rewritePath)
    val rewriteSec = (System.nanoTime() - t1) / 1e9
    val rewriteBytes = dirBytes(s"$rewritePath/corpus")
    val total = spark.read.parquet(s"$appendPath/corpus").count()
    println(f"[scale] ivf cell append          append ${appendSec}%6.2f s " +
      f"(${appendBytes / 1024}%d KB)  full rewrite ${rewriteSec}%6.2f s " +
      f"(${rewriteBytes / 1024}%d KB)  rows=$total")
    require(total == emb.count(), "appended index lost rows")
    // the 10% batch must write ~10% of the bytes; 1/5 leaves slack
    // for parquet per-file overhead on the small partition files
    require(appendBytes * 5 < rewriteBytes,
      s"append wrote $appendBytes bytes vs rewrite $rewriteBytes — " +
        "not batch-proportional")
    // maintenance cadence: compaction collapses the per-(cell, batch)
    // append files back to one partition per cell — the probe-side
    // file count the pruned scan pays — without losing a row
    def corpusFiles(path: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      walk(new java.io.File(s"$path/corpus"))
    }
    val filesBefore = corpusFiles(appendPath)
    val t2 = System.nanoTime()
    IvfIndex.compact(spark, appendPath)
    val compactSec = (System.nanoTime() - t2) / 1e9
    println(f"[scale] ivf compact             ${compactSec}%6.2f s" +
      f"  files ${filesBefore}%d -> ${corpusFiles(appendPath)}%d")
    require(corpusFiles(appendPath) < filesBefore,
      "ivf compaction must shrink the corpus file count")
    require(spark.read.parquet(s"$appendPath/corpus").count() == total,
      "ivf compaction lost rows")
    // the at-rest fsck verb agrees from OUTSIDE the loop
    val ivfFindings = graft.pipeline.Fsck.checkIvf(spark, appendPath)
    require(ivfFindings.isEmpty, s"ivf fsck findings: $ivfFindings")
    // retire both smoke indexes (the lifecycle's last verb)
    IvfIndex.delete(spark, appendPath)
    IvfIndex.delete(spark, rewritePath)
  }

  /**
   * The operator fsck verb ([[graft.FsckMain]]) against a standing
   * deployment: one layout walk — crash-state listings plus ONE
   * distributed id aggregation over the trio — reporting clean on a
   * healthy deployment and naming an injected crash state. The gate
   * is the report itself (the load-immune signal); the walk's seconds
   * are informational. Sliced to sf0.1-sized docs: the walk's data
   * cost is the id aggregation, already priced at 10× by the composed
   * loop smoke's own checkAll calls.
   */
  def fsckSmoke(spark: SparkSession): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.pipeline.{CuratedCorpus, IngestStream}
    val docs = Tables(spark, OutDir, "documents")
      .where(col("doc_id") % 10 === 0)
    val root = s"$OutDir/fsck_dep"
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root), true)
    val (cc, sigs, clusters) = (s"$root/cc", s"$root/sigs", s"$root/clusters")
    CuratedCorpus.init(docs, cc)
    IngestStream.bootstrapIndexes(spark, cc, sigs, clusters,
      graft.dedup.DedupQueries.IncrementalFuzzyThreshold)
    val t0 = System.nanoTime()
    val clean = FsckMain.run(spark, Seq(cc, sigs, clusters))
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[scale] fsck layout walk        ${sec}%8.2f s  " +
      f"findings=${clean.size}  rows=${docs.count()}")
    require(clean.isEmpty, s"healthy deployment must fsck clean: $clean")
    // The SHIPPED process contract (VERDICT r18 #3): fork
    // `java … graft.FsckMain` exactly as an operator's cron would and
    // pin the 0/1/2 exit codes plus the `[fsck]` line format on the
    // three deployment shapes. The in-process checks above drive the
    // cli() body; these drive main()'s session/exit plumbing too.
    val (okCode, okOut) = forkFsck(Seq(cc, sigs, clusters))
    require(okCode == 0 && okOut.contains("[fsck] clean — no findings"),
      s"healthy deployment: want exit 0 + clean line, got $okCode / " +
        okOut.filter(_.startsWith("[fsck]")))
    println(s"[scale] fsck CLI exit contract  healthy: exit 0  clean line ok")
    fs.mkdirs(new Path(s"$cc/.old_docs"))
    val torn = FsckMain.run(spark, Seq(cc, sigs, clusters)).map(_.kind)
    require(torn == Seq("orphan-old"),
      s"injected crash state must surface through the CLI face: $torn")
    // torn + a TYPO'D release root in one fork: exit 1, and stdout
    // names BOTH the crash state and the absent root — the exact
    // shipped-path regression r18 found (main bypassing run()'s
    // missing-root scan) stays pinned at the process boundary
    val typo = s"$root/releasez"
    val (tornCode, tornOut) =
      forkFsck(Seq(cc, sigs, clusters, "--release", typo))
    val fsckLines = tornOut.filter(_.startsWith("[fsck]"))
    require(tornCode == 1 &&
      fsckLines.exists(l => l.startsWith("[fsck] missing-root") &&
        l.contains(typo)) &&
      fsckLines.exists(_.startsWith("[fsck] orphan-old")),
      s"torn+typo'd deployment: want exit 1 naming missing-root and " +
        s"orphan-old, got $tornCode / $fsckLines")
    println(s"[scale] fsck CLI exit contract  torn+typo: exit 1  " +
      s"kinds=${fsckLines.map(_.split("\\s+")(1)).mkString(",")}")
    val (usageCode, usageOut) = forkFsck(Seq(cc, sigs)) // 2 positionals
    require(usageCode == 2 && !usageOut.exists(_.startsWith("[fsck]")),
      s"usage error: want exit 2 with no findings line, got $usageCode")
    println(s"[scale] fsck CLI exit contract  usage: exit 2  no session")
    fs.delete(new Path(root), true)
    ()
  }

  /** Fork the shipped fsck CLI (`java … graft.FsckMain <args>`) with
    * this JVM's own classpath and module options, returning (exit
    * code, stdout+stderr lines). A real child process, not an
    * in-JVM call: sys.exit and session lifecycle are part of the
    * contract under test. */
  private def forkFsck(args: Seq[String]): (Int, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = Seq(javaBin) ++ jvmArgs ++
      // pin the child's stdout AND stderr to UTF-8 (JDK 17 defaults to
      // the platform charset — an operator's C-locale cron would
      // otherwise read a mangled report line, and stderr is merged
      // into the stream read below)
      Seq("-Dfile.encoding=UTF-8",
        "-Dsun.stdout.encoding=UTF-8", "-Dstdout.encoding=UTF-8",
        "-Dsun.stderr.encoding=UTF-8", "-Dstderr.encoding=UTF-8",
        "-cp", System.getProperty("java.class.path"),
        "graft.FsckMain") ++ args
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    // watchdog: a child wedged in session startup or GC thrash must
    // turn into a RED gate (killed ⇒ surprising exit code), never a
    // silent smoke hang on the open stdout pipe. Sized to be
    // unreachable under mere box load (ADVICE r19: two concurrent
    // local[32] JVMs can stretch a healthy child's startup well past
    // a tight bound — a wall-time kill must stay a HANG guard, not a
    // perf gate), and a fired kill is announced so it is never
    // mistaken for a real exit-code failure.
    val watchdogMs = 600000L
    val killed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killer = new java.util.Timer("fsck-fork-watchdog", true)
    killer.schedule(new java.util.TimerTask {
      def run(): Unit = { killed.set(true); p.destroyForcibly(); () }
    }, watchdogMs)
    // lenient decode: a stray non-UTF-8 byte in a merged log line must
    // never crash the harness in place of the gate's own verdict
    val codec = scala.io.Codec.UTF8
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    val out = scala.io.Source.fromInputStream(p.getInputStream)(codec)
      .getLines().toList // drain fully BEFORE waitFor: avoids pipe deadlock
    val code = p.waitFor()
    killer.cancel()
    if (killed.get)
      println(s"[scale] fsck fork WATCHDOG KILLED after ${watchdogMs / 1000}s" +
        s" — exit code $code is the kill, not the CLI's verdict")
    (code, out)
  }

  private def dirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    walk(new java.io.File(dir))
  }
}
