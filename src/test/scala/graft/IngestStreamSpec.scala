package graft

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.pipeline.{DqGate, IngestStream}

/** The composed streaming ingest stack: one clean batch and one
  * poisoned batch (dq violation + vocabulary flip + near-duplicate of
  * the corpus), each leaving a full verdict trail. */
class IngestStreamSpec extends SparkSpec {
  import spark.implicits._

  test("ingest stack reports dq, drift, and near-dup per micro-batch") {
    // 3-token-shingle near-dup: corpus docs must be pairwise DIVERSE
    // (a shared sentence frame would make any in-vocabulary fresh doc
    // a near-duplicate of everything); rotate the word order per doc
    // so docs share TOKENS (for a stable drift profile) but not
    // shingles.
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    def sentence(i: Int): String =
      (0 until 8).map(j => words((i * 3 + j * (1 + i % 7)) % 10))
        .mkString(" ") + s" tail$i"
    val corpus = Seq.tabulate(30)(i => (i.toLong, sentence(i)))
      .toDF("doc_id", "text")
    val rules = Seq(DqGate.Rule("text_nonempty",
      DqGate.notSatisfied(length(trim(col("text"))) > 0)))

    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    val reports = mutable.ArrayBuffer[IngestStream.BatchReport]()
    val (writer, release) = IngestStream.gated(
      mem.toDF(), corpus, "doc_id", "text", rules, threshold = 0.5) {
      (_, report) => reports += report
    }
    val q = writer.start()
    try {
      // clean: corpus vocabulary, fresh shingle combinations
      mem.addData(
        Row(100L, "kappa alpha theta beta iota gamma zeta delta fresh1"),
        Row(101L, "epsilon iota beta kappa eta alpha delta theta fresh2"))
      q.processAllAvailable()
      // poisoned: near-copy of corpus doc 3, a blank text, vocab flip
      mem.addData(
        Row(200L, sentence(3).replace("tail3", "tail999")),
        Row(201L, "   "),
        Row(202L, "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp"))
      q.processAllAvailable()
    } finally { q.stop(); release() }

    assert(reports.size == 2)
    val clean = reports(0)
    assert(clean.rows == 2 && clean.dqPass && clean.nearDupMatches == 0L)
    assert(clean.drift < 0.6, s"clean drift=${clean.drift}")
    val bad = reports(1)
    assert(bad.rows == 3 && !bad.dqPass)
    assert(bad.dq.exists(v => v.constraint == "text_nonempty" &&
      v.violations == 1L))
    assert(bad.nearDupMatches >= 1L, "near-copy of corpus doc not flagged")
    assert(bad.drift > clean.drift, "vocab flip did not raise drift")

    // quarantine writer: the bad batch lands stamped, re-readable, and
    // REPLAY-IDEMPOTENT — a redelivery overwrites its own partition
    val qDir = java.nio.file.Files.createTempDirectory("graft-quar").toString + "/q"
    val badBatch = Seq((201L, "   ")).toDF("doc_id", "text")
    IngestStream.quarantine(badBatch, bad, "dq:text_nonempty", qDir)
    IngestStream.quarantine(badBatch, bad, "dq:text_nonempty", qDir)
    assert(spark.read.parquet(qDir).count() == 1L,
      "redelivered quarantined batch must read back single-copy")
    val row = IngestStream.openQuarantine(spark, qDir, "doc_id").head()
    assert(row.getAs[Long]("__batch_id") == bad.batchId &&
      row.getAs[String]("__reason") == "dq:text_nonempty")
    // the flip side of replay single-copy (the quarantine scaladoc's
    // hard contract): a second same-(batch, reason) call with a
    // DIFFERENT frame is indistinguishable from a redelivery and
    // REPLACES the first call's rows — slices of one batch must be
    // unioned before calling, or keyed into their own reasons
    IngestStream.quarantine(Seq((202L, "x")).toDF("doc_id", "text"),
      bad, "dq:text_nonempty", qDir)
    assert(spark.read.parquet(qDir).select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(202L),
      "same-(batch, reason) re-call must replace, not accumulate")
    IngestStream.quarantine(badBatch, bad, "dq:text_nonempty", qDir)
    // a second SLICE of the same batch under another reason must
    // coexist (only an identical (batch, reason) redelivery
    // overwrites), and replay that slice stays single-copy too
    IngestStream.quarantine(badBatch, bad, "dq:second", qDir)
    IngestStream.quarantine(badBatch, bad, "dq:second", qDir)
    assert(spark.read.parquet(qDir).count() == 2L,
      "two reasons of one batch must both stand")
    // the same DOC re-failing under a LATER batch: all partitions
    // stand, but triage sees the doc once, under the latest stamp
    val again = IngestStream.BatchReport(bad.batchId + 1, 1L, Nil, 0.0, 0L)
    IngestStream.quarantine(badBatch, again, "dq:again", qDir)
    assert(spark.read.parquet(qDir).count() == 3L)
    val lww = IngestStream.openQuarantine(spark, qDir, "doc_id").collect()
    assert(lww.length == 1 &&
      lww.head.getAs[Long]("__batch_id") == again.batchId &&
      lww.head.getAs[String]("__reason") == "dq:again",
      s"triage must LWW to the latest stamp: ${lww.toSeq}")
    // the triage read takes its schema from one footer: opening it
    // launches no Spark job (schema inference ran one per call)
    val open = CpuMeter.measure(spark.sparkContext)(
      IngestStream.openQuarantine(spark, qDir, "doc_id"))
    assert(open.jobs == 0L && open.jobsOutsideSql == 0L, s"$open")
    // retention: triage completed through the first batch prunes its
    // whole partition (both reasons, listing-only), leaves the later
    assert(IngestStream.pruneQuarantine(spark, qDir, bad.batchId) ==
      Seq(bad.batchId))
    assert(spark.read.parquet(qDir).agg(
      min(col("__batch_id").cast("long"))).head().getLong(0) ==
      again.batchId)
    assert(IngestStream.pruneQuarantine(spark, qDir, bad.batchId).isEmpty,
      "pruning past the watermark must be a no-op")
    // draining the LAST partition retires the table; the drained and
    // absent states read identically as the empty frame
    assert(IngestStream.pruneQuarantine(spark, qDir, again.batchId) ==
      Seq(again.batchId))
    assert(IngestStream.openQuarantine(spark, qDir, "doc_id").isEmpty,
      "a drained quarantine must read back empty, not throw")
    // and a later failure starts a fresh table in the same place
    IngestStream.quarantine(badBatch, again, "dq:late", qDir)
    assert(IngestStream.openQuarantine(spark, qDir, "doc_id").count() == 1L)
  }

  test("ingest stack gates on the embedding index when configured") {
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    def sentence(i: Int): String =
      (0 until 8).map(j => words((i * 3 + j * (1 + i % 7)) % 10))
        .mkString(" ") + s" tail$i"
    // all corpus embeddings share direction e0 — a scaled-copy probe
    // provably collides in every band and verifies at cosine 1.0
    val corpus = Seq.tabulate(10)(i =>
      (i.toLong, sentence(i), Seq(1f, 0f, 0f, 0f)))
      .toDF("doc_id", "text", "embedding")
    val schema = StructType.fromDDL(
      "doc_id BIGINT, text STRING, embedding ARRAY<FLOAT>")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    val reports = mutable.ArrayBuffer[IngestStream.BatchReport]()
    val gate = IngestStream.EmbedGate("embedding",
      bands = 2, planesPerBand = 4, dims = 4, threshold = 0.9)
    val (writer, release) = IngestStream.gated(
      mem.toDF(), corpus, "doc_id", "text", Nil, threshold = 0.5,
      embed = Some(gate)) { (_, report) => reports += report }
    val q = writer.start()
    try {
      // clean: corpus vocabulary, orthogonal embedding
      mem.addData(Row(100L,
        "kappa alpha theta beta iota gamma zeta delta fresh1",
        Seq(0f, 0f, 1f, 0f)))
      q.processAllAvailable()
      // poisoned: semantic duplicate (scaled corpus direction) whose
      // TEXT shares no shingles with the corpus — only the embedding
      // gate can catch it
      mem.addData(Row(200L,
        "entirely novel wording that shares not one shingle",
        Seq(2f, 0f, 0f, 0f)))
      q.processAllAvailable()
    } finally { q.stop(); release() }

    assert(reports.size == 2)
    assert(reports(0).embedDupMatches == 0L,
      s"orthogonal embedding flagged: ${reports(0)}")
    assert(reports(1).embedDupMatches >= 1L &&
      reports(1).nearDupMatches == 0L,
      s"semantic dup must trip ONLY the embedding gate: ${reports(1)}")
  }

  test("capped drift profile drives the stack: clean batch low, vocab flip raised") {
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    def sentence(i: Int): String =
      (0 until 8).map(j => words((i * 3 + j * (1 + i % 7)) % 10))
        .mkString(" ") + s" tail$i"
    val corpus = Seq.tabulate(30)(i => (i.toLong, sentence(i)))
      .toDF("doc_id", "text")
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    val reports = mutable.ArrayBuffer[IngestStream.BatchReport]()
    // head smaller than the ~40-token vocabulary (10 words + 30 tails),
    // so the tail genuinely folds
    val (writer, release) = IngestStream.gated(
      mem.toDF(), corpus, "doc_id", "text", Nil, threshold = 0.5,
      cappedDriftK = Some(8)) { (_, report) => reports += report }
    val q = writer.start()
    try {
      mem.addData(
        Row(100L, "kappa alpha theta beta iota gamma zeta delta fresh1"))
      q.processAllAvailable()
      mem.addData(
        Row(200L, "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp"))
      q.processAllAvailable()
    } finally { q.stop(); release() }
    assert(reports.size == 2)
    assert(reports(0).drift < 0.6, s"clean capped drift: ${reports(0).drift}")
    assert(reports(1).drift > reports(0).drift,
      s"vocab flip must raise capped drift: ${reports.map(_.drift)}")
  }

  test("sketch-selected head drives the stack: same drift as the exact head") {
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    def sentence(i: Int): String =
      (0 until 8).map(j => words((i * 3 + j * (1 + i % 7)) % 10))
        .mkString(" ") + s" tail$i"
    val corpus = Seq.tabulate(30)(i => (i.toLong, sentence(i)))
      .toDF("doc_id", "text")
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val batches = Seq(
      Row(100L, "kappa alpha theta beta iota gamma zeta delta fresh1"),
      Row(200L, "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp"))
    def run(sketch: Boolean): Seq[Double] = {
      val mem = MemoryStream[Row](enc, spark)
      val drifts = mutable.ArrayBuffer[Double]()
      val (writer, release) = IngestStream.gated(
        mem.toDF(), corpus, "doc_id", "text", Nil, threshold = 0.5,
        cappedDriftK = Some(8), sketchSelectedHead = sketch) {
        (_, r) => drifts += r.drift }
      val q = writer.start()
      try {
        batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      } finally { q.stop(); release() }
      drifts.toSeq
    }
    // the CMS-selected profile is a drop-in: identical drift verdicts
    assert(run(sketch = true) == run(sketch = false))
    // and the strategy flag is rejected without a capped head to build
    intercept[IllegalArgumentException] {
      IngestStream.gated(MemoryStream[Row](enc, spark).toDF(), corpus,
        "doc_id", "text", Nil, 0.5, sketchSelectedHead = true) { (_, _) => () }
    }
  }

  test("embed gate validates the embedding column at build time") {
    val corpus = Seq((1L, "alpha")).toDF("doc_id", "text")
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    intercept[IllegalArgumentException] {
      IngestStream.gated(mem.toDF(), corpus, "doc_id", "text", Nil, 0.5,
        embed = Some(IngestStream.EmbedGate("embedding", 2, 4, 4, 0.9))) {
        (_, _) => ()
      }
    }
  }

  test("rule-name problems fail at build time, not inside the first batch") {
    val corpus = Seq((1L, "alpha")).toDF("doc_id", "text")
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    // collision with the injected uniqueness rule's reserved name
    intercept[IllegalArgumentException] {
      IngestStream.gated(mem.toDF(), corpus, "doc_id", "text",
        Seq(DqGate.Rule("doc_id_unique", col("doc_id").isNull)), 0.5) {
        (_, _) => ()
      }
    }
    // duplicates among the caller's own rules
    intercept[IllegalArgumentException] {
      IngestStream.gated(mem.toDF(), corpus, "doc_id", "text",
        Seq(DqGate.Rule("a", col("doc_id").isNull),
          DqGate.Rule("a", col("text").isNull)), 0.5) {
        (_, _) => ()
      }
    }
  }

  test("accept router folds passing batches into the standing corpus end to end") {
    import graft.pipeline.{CuratedCorpus, PipelineQueries, Release}
    // docs that clear every curation rule: 25 distinct ~6-char tokens,
    // no punctuation, lang != 'en' (stopword rule is en-only), and a
    // per-doc marker so texts are exact-dedup distinct
    val pool = Vector.tabulate(40)(i => f"word$i%02d")
    def doc(i: Int): String =
      (0 until 24).map(j => pool((i * 7 + j) % 40)).mkString(" ") +
        s" marker$i"
    def asDocs(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .withColumn("source",
          concat(lit("s"), (col("doc_id") % 2).cast("string")))
        .withColumn("lang", lit("de"))
        .select("doc_id", "source", "lang", "text")
    val corpus = asDocs(Seq.tabulate(30)(i => (i.toLong, doc(i))))
    val cc = java.nio.file.Files
      .createTempDirectory("graft-cc").toString + "/cc"
    val qDir = java.nio.file.Files
      .createTempDirectory("graft-quar").toString + "/q"
    try {
      CuratedCorpus.init(corpus, cc)
      val schema = StructType.fromDDL(
        "doc_id BIGINT, source STRING, lang STRING, text STRING")
      implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
      val mem = MemoryStream[Row](enc, spark)
      val rules = Seq(DqGate.Rule("text_nonempty",
        DqGate.notSatisfied(length(trim(col("text"))) > 0)))
      val relRoot = java.nio.file.Files
        .createTempDirectory("graft-rel").toString + "/r"
      var lastAccepted: Option[IngestStream.BatchReport] = None
      // the full production loop in one route: gates decide the fate,
      // an accepted batch folds into the standing corpus, and the
      // release cadence (every fold, here) cuts the next mounted
      // version — nothing hand-cranked
      val (writer, release) = IngestStream.gated(
        mem.toDF(), corpus, "doc_id", "text", rules, threshold = 0.99) {
        (batch, report) =>
          if (report.dqPass) {
            IngestStream.acceptIntoCorpus(batch, report, cc)
            Release.maintainFromCorpus(batch.sparkSession, cc, relRoot,
              Release.Seed, Release.Budget, Release.Shards,
              everyBatches = 1)
            lastAccepted = Some(report)
          } else IngestStream.quarantine(batch, report, "dq", qDir)
      }
      def rowsOf(rows: Seq[(Long, String)]): Seq[Row] =
        asDocs(rows).collect().toSeq
      val b0 = Seq.tabulate(4)(j => (100L + j, doc(100 + j)))
      // id 200 resubmits corpus doc 3's exact text under a fresh id —
      // the standing-hash probe must drop it inside the fold
      val b1 = Seq((200L, doc(3)), (201L, doc(201)), (202L, doc(202)))
      val b2 = Seq((300L, "   "), (301L, doc(301))) // dq fail → quarantine
      val q = writer.start()
      try {
        Seq(b0, b1, b2).foreach { b =>
          mem.addData(rowsOf(b): _*); q.processAllAvailable()
        }
      } finally { q.stop(); release() }

      // the standing table holds exactly the union curation of the
      // corpus plus the ACCEPTED batches — the quarantined batch
      // (including its one good doc 301: batch fate, not doc fate)
      // contributes nothing
      def tableRows = CuratedCorpus.open(spark, cc)
        .select("doc_id", "source", "n_tokens")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val want = PipelineQueries
        .curatedTrainDocs(corpus.unionByName(asDocs(b0 ++ b1)))
        .select(col("doc_id"), col("source"),
          coalesce(graft.text.TextAnalysis.tokenCount(col("text"))
            .cast("long"), lit(0L)).as("n_tokens"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val got = tableRows
      assert(got == want && got.nonEmpty)
      assert(!got.exists(_._1 == 200L), "resubmitted content re-landed")
      assert(spark.read.parquet(qDir)
        .where(col("__batch_id") === lastAccepted.get.batchId + 1).count() == 2)

      // at-least-once redelivery of the last accepted batch: the fold
      // re-lands its own partitions, the table does not change
      IngestStream.acceptIntoCorpus(asDocs(b1), lastAccepted.get, cc)
      assert(tableRows == got)

      // the cadence cut a version per ACCEPTED batch (the quarantined
      // one cut nothing), each carrying its fold watermark as lineage
      try {
        assert(Release.latestVersion(spark, relRoot).contains(2))
        assert(Release.lineageJson(spark, relRoot, 2)
          .exists(_.contains("\"corpus_batch\":1")))
        assert(Release.open(spark, relRoot).count() > 0)
      } finally Release.delete(spark, relRoot)
    } finally CuratedCorpus.delete(spark, cc)
  }

  test("indexed accept router keeps corpus, signature, and cluster tables in lockstep") {
    import graft.dedup.{ClusterIndex, Clusters, Dedup, DedupQueries, SignatureIndex}
    import graft.pipeline.{CuratedCorpus, PipelineQueries}
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val (t1, t2) = (mx * 8 / 10, mx * 9 / 10)
    val (base, b1, b2) = (
      docs.where(col("doc_id") < t1),
      docs.where(col("doc_id") >= t1 && col("doc_id") < t2),
      docs.where(col("doc_id") >= t2))
    val T = DedupQueries.IncrementalFuzzyThreshold
    val root = java.nio.file.Files
      .createTempDirectory("graft-indexed-accept").toString
    val (cc, sigs, clusters) = (s"$root/cc", s"$root/sigs", s"$root/clusters")
    try {
      // per-snapshot bootstrap: curated base + both indexes over it
      CuratedCorpus.init(base, cc)
      IngestStream.bootstrapIndexes(spark, cc, sigs, clusters, T)

      def accept(b: org.apache.spark.sql.DataFrame, id: Long): Boolean =
        IngestStream.acceptIntoCorpusIndexed(b,
          IngestStream.BatchReport(id, b.count(), Nil, 0.0, 0L), cc, sigs,
          clusters, T, maintainEvery = Some(1))
      // dial 1: the corpus compacts every batch (replay-safe); the
      // indexes compact their SETTLED folds — at batch 1 that is
      // exactly fold 0, the settled-only discipline mid-loop
      assert(accept(b1, 0L))
      val compacted = accept(b2, 1L)

      // LOCKSTEP: each index covers exactly the curated corpus's ids
      val corpusIds = CuratedCorpus.open(spark, cc)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(corpusIds.nonEmpty)
      assert(SignatureIndex.open(spark, sigs)
        .select("doc_id").collect().map(_.getLong(0)).toSet == corpusIds)
      val got = ClusterIndex.open(spark, clusters).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.keySet == corpusIds)
      // labels ≡ the from-scratch resolve over the curated union
      val curatedAll = PipelineQueries.curatedTrainDocs(docs)
      val want = Clusters.resolve(curatedAll, "doc_id",
          Dedup.nearDupPairs(curatedAll, "doc_id", "text", T)
            .select("doc_a", "doc_b"), "doc_a", "doc_b")
        .select("doc_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want)
      // the shared dial compacted: corpus fully, the indexes through
      // their settled fold (batch 1's own partitions must stand —
      // it can still replay)
      assert(compacted)
      assert(CuratedCorpus.foldCount(spark, cc) == 0)
      assert(SignatureIndex.foldCount(spark, sigs) == 1)
      assert(ClusterIndex.foldCount(spark, clusters) == 1)

      // replay of the last batch: survivors re-derive (or dedup to
      // zero post-compaction) and every table is unchanged
      val sigRows = SignatureIndex.open(spark, sigs).count()
      assert(!accept(b2, 1L))
      assert(CuratedCorpus.open(spark, cc)
        .select("doc_id").collect().map(_.getLong(0)).toSet == corpusIds)
      assert(SignatureIndex.open(spark, sigs).count() == sigRows)
      assert(ClusterIndex.open(spark, clusters).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap == got)
    } finally {
      CuratedCorpus.delete(spark, cc)
      SignatureIndex.delete(spark, sigs)
      ClusterIndex.delete(spark, clusters)
    }
  }

  test("checkpoint kill/restart: the ingest accept loop converges to the single-run corpus (effectively-once folds)") {
    // The training-pipeline twin of JdbcStreamSpec's kill/restart
    // case: Structured Streaming logs an epoch's offsets BEFORE the
    // foreachBatch body runs and its commit entry AFTER, so a crash
    // between accept and commit replays the epoch on restart — and
    // the accept router's replay-idempotent folds (dynamic partition
    // overwrite keyed by the epoch's batchId, standing reads that
    // exclude the batch's own partitions) must converge to the state
    // a never-killed run reaches. Here the replay is driven by the
    // REAL checkpoint machinery, not a manual second accept call.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.dedup.{ClusterIndex, DedupQueries, SignatureIndex}
    import graft.pipeline.{CuratedCorpus, Fsck, IngestStream}
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val mid = mx / 2
    val T = DedupQueries.IncrementalFuzzyThreshold
    val slices = (0 until 4).map(i =>
      docs.where(col("doc_id") >= mid && col("doc_id") % 4 === i))
    // one parquet file per slice, zero-padded names + increasing
    // mtimes so FileStreamSource (oldest-first) pins epoch i = slice i
    def tmpDir(prefix: String): String = {
      val d = Files.createTempDirectory(prefix).toString
      tempDirs += d
      d
    }
    def writeSliceFiles(dir: String): Unit =
      slices.zipWithIndex.foreach { case (s, i) =>
        val stage = tmpDir("graft-ingest-one")
        s.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(fail(s"no part file under $stage"))
        val dst = Paths.get(dir, f"docs-$i%05d.parquet")
        Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
        assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
      }
    def fileDocs(dir: String) = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val base = java.nio.file.Files
      .createTempDirectory("graft-ingest-ckpt").toString
    def roots(tag: String) =
      (s"$base/$tag/cc", s"$base/$tag/sigs", s"$base/$tag/clusters")
    def bootstrap(tag: String): (String, String, String) = {
      val (cc, sigs, clusters) = roots(tag)
      CuratedCorpus.init(docs.where(col("doc_id") < mid), cc)
      IngestStream.bootstrapIndexes(spark, cc, sigs, clusters, T)
      (cc, sigs, clusters)
    }
    def start(src: String, ckpt: String, rs: (String, String, String),
        onEpoch: Long => Unit) =
      fileDocs(src).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, epoch: Long) =>
          IngestStream.acceptIntoCorpusIndexed(b,
            IngestStream.BatchReport(epoch, b.count(), Nil, 0.0, 0L),
            rs._1, rs._2, rs._3, T)
          onEpoch(epoch)
          ()
        }
        .start()
    def corpusRows(cc: String) = CuratedCorpus.open(spark, cc)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    def sigIds(sigs: String) = SignatureIndex.open(spark, sigs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def clusterMap(cl: String) = ClusterIndex.open(spark, cl).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      // ---- reference run: same files, same router, never killed
      val refRoots = bootstrap("ref")
      val srcA = tmpDir("graft-ingest-src-ref")
      writeSliceFiles(srcA)
      val qA = start(srcA,
        tmpDir("graft-ingest-ck-ref"),
        refRoots, _ => ())
      try qA.processAllAvailable() finally qA.stop()
      val (refCorpus, refSigs, refClusters) =
        (corpusRows(refRoots._1), sigIds(refRoots._2), clusterMap(refRoots._3))
      assert(refCorpus.nonEmpty && refSigs.nonEmpty)

      // ---- kill run: crash AFTER epoch 2's folds landed, BEFORE its
      // commit-log entry — the at-least-once window
      val killRoots = bootstrap("kill")
      val srcB = tmpDir("graft-ingest-src-kill")
      writeSliceFiles(srcB)
      val ckpt = tmpDir("graft-ingest-ck-kill")
      val accepted = scala.collection.concurrent.TrieMap.empty[Long, Int]
      @volatile var killArmed = true
      val onEpoch: Long => Unit = epoch => {
        accepted.updateWith(epoch)(c => Some(c.getOrElse(0) + 1))
        if (killArmed && epoch == 2L) {
          killArmed = false
          throw new RuntimeException("injected-crash-after-fold")
        }
      }
      val q1 = start(srcB, ckpt, killRoots, onEpoch)
      try { q1.processAllAvailable(); q1.awaitTermination(120000L) }
      catch { case _: Throwable => () }
      assert(q1.exception.isDefined, "the injected crash must kill the query")
      assert(accepted.toMap == Map(0L -> 1, 1L -> 1, 2L -> 1),
        s"the kill run folds epochs 0..2 once each, got $accepted")
      // the torn moment is visible to fsck as standing state, not rot:
      // epoch 2's folds stand, no swap/staging debris
      assert(Fsck.check(spark, killRoots._1, killRoots._2, killRoots._3,
        None).isEmpty, "a post-fold crash must leave no fsck findings")

      // ---- restart from the SAME checkpoint: epoch 2 replays; the
      // keyed folds absorb the duplicate; 3 completes the stream
      val q2 = start(srcB, ckpt, killRoots, onEpoch)
      try q2.processAllAvailable() finally q2.stop()
      assert(accepted.getOrElse(2L, 0) == 2,
        s"epoch 2 must REPLAY after the restart, got $accepted")
      assert(accepted.getOrElse(0L, 0) == 1 && accepted.getOrElse(1L, 0) == 1,
        s"committed epochs must not replay, got $accepted")
      assert(accepted.getOrElse(3L, 0) == 1, s"tail epoch runs once: $accepted")
      assert(corpusRows(killRoots._1) == refCorpus,
        "kill+restart corpus must equal the single-run corpus")
      assert(sigIds(killRoots._2) == refSigs,
        "signature index must be in lockstep with the converged corpus")
      assert(clusterMap(killRoots._3) == clusterMap(refRoots._3),
        "cluster labels must equal the single-run labels")
      val lv = IngestStream.lockstepView(
        spark, killRoots._1, killRoots._2, killRoots._3)
      assert(lv.watermark == 3L,
        s"the lockstep clock must read the tail epoch, got ${lv.watermark}")
    } finally {
      // pure FS deletion, one guarded try per tree: the store roots
      // all live under base, and a cleanup IOException must never
      // replace the test's real failure (an exception thrown in a
      // finally discards the original) nor skip the remaining trees
      val hconf = spark.sparkContext.hadoopConfiguration
      (tempDirs.toSeq :+ base).foreach { d =>
        try {
          val p = new org.apache.hadoop.fs.Path(d)
          p.getFileSystem(hconf).delete(p, true); ()
        } catch { case e: Exception =>
          info(s"cleanup of $d failed (non-fatal): ${e.getMessage}")
        }
      }
    }
  }

  /** Temp trees the kill/restart test creates outside its roots —
    * collected so the finally can delete them (repeated runs on a
    * long-lived box would otherwise accumulate /tmp debris). */
  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[String]

  test("delete-tagged feed: a mixed batch folds its adds and retracts its deletes on one clock") {
    import graft.dedup.{ClusterIndex, DedupQueries, SignatureIndex}
    import graft.pipeline.{CuratedCorpus, Fsck, PipelineQueries}
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val (t1, t2) = (mx * 8 / 10, mx * 9 / 10)
    val T = DedupQueries.IncrementalFuzzyThreshold
    val root = java.nio.file.Files
      .createTempDirectory("graft-del-feed").toString
    val (cc, sigs, clusters) = (s"$root/cc", s"$root/sigs", s"$root/clusters")
    def tag(df: org.apache.spark.sql.DataFrame, del: Boolean) =
      df.withColumn("__del", lit(del))
    def rep(id: Long, df: org.apache.spark.sql.DataFrame) =
      IngestStream.BatchReport(id, df.count(), Nil, 0.0, 0L)
    def idsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    try {
      CuratedCorpus.init(docs.where(col("doc_id") < t1), cc)
      IngestStream.bootstrapIndexes(spark, cc, sigs, clusters, T)
      val b1 = tag(docs.where(col("doc_id") >= t1 && col("doc_id") < t2),
        del = false)
      IngestStream.acceptIntoCorpusIndexedWithDeletes(b1, rep(0L, b1),
        "__del", cc, sigs, clusters, T)
      val ids0 = idsOf(CuratedCorpus.open(spark, cc))
      val dead = ids0.filter(_ % 4 == 0)
      assert(dead.nonEmpty && dead.size < ids0.size)
      // the mixed batch: new docs plus delete instructions naming
      // standing (strictly older — monotone ids) documents. The adds
      // carry NULL flags — the common sink shape stamps TRUE on
      // deletes only, and a NULL must read as "not a delete" (raw
      // three-valued logic would drop the row from BOTH halves)
      val mixed = docs.where(col("doc_id") >= t2)
        .withColumn("__del", lit(null).cast("boolean"))
        .unionByName(
          tag(docs.where(col("doc_id").isin(dead.toSeq: _*)), del = true))
      IngestStream.acceptIntoCorpusIndexedWithDeletes(mixed,
        rep(1L, mixed), "__del", cc, sigs, clusters, T)
      val expected =
        idsOf(PipelineQueries.curatedTrainDocs(docs)) -- dead
      assert(idsOf(CuratedCorpus.open(spark, cc)) == expected,
        "adds folded, deletes retracted — one batch, one clock")
      assert(idsOf(SignatureIndex.open(spark, sigs)) == expected)
      assert(idsOf(ClusterIndex.open(spark, clusters)) == expected)
      // the delete half landed as standing tombstones on every root
      val f = Fsck.check(spark, cc, sigs, clusters)
      assert(f.forall(_.kind == "tombs-standing") &&
        f.map(_.root).toSet == Set(cc, sigs, clusters), s"$f")
      // at-least-once redelivery of the MIXED batch replays both
      // halves idempotently
      IngestStream.acceptIntoCorpusIndexedWithDeletes(mixed,
        rep(1L, mixed), "__del", cc, sigs, clusters, T)
      assert(idsOf(CuratedCorpus.open(spark, cc)) == expected)
      assert(idsOf(SignatureIndex.open(spark, sigs)) == expected)
      // each root's compaction purges and clears; the end state holds
      CuratedCorpus.compact(spark, cc)
      SignatureIndex.compact(spark, sigs)
      ClusterIndex.compact(spark, clusters)
      assert(Fsck.check(spark, cc, sigs, clusters).isEmpty)
      assert(idsOf(CuratedCorpus.open(spark, cc)) == expected)
    } finally {
      CuratedCorpus.delete(spark, cc)
      SignatureIndex.delete(spark, sigs)
      ClusterIndex.delete(spark, clusters)
    }
  }

  test("lockstepView: one watermark pins every leg — mid-router and torn-retraction tears never show") {
    import graft.dedup.{ClusterIndex, DedupQueries, SignatureIndex}
    import graft.pipeline.CuratedCorpus
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val (t1, t2) = (mx * 8 / 10, mx * 9 / 10)
    val T = DedupQueries.IncrementalFuzzyThreshold
    val root = java.nio.file.Files
      .createTempDirectory("graft-lockstep").toString
    val (cc, sigs, clusters) = (s"$root/cc", s"$root/sigs", s"$root/clusters")
    def idsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    def view() = IngestStream.lockstepView(spark, cc, sigs, clusters)
    def lockstep(v: IngestStream.LockstepView): Set[Long] = {
      val ids = idsOf(v.docs)
      assert(idsOf(v.signatures) == ids && idsOf(v.clusters) == ids,
        s"legs disagree at watermark ${v.watermark}")
      ids
    }
    def accept(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      IngestStream.acceptIntoCorpusIndexed(b,
        IngestStream.BatchReport(id, b.count(), Nil, 0.0, 0L),
        cc, sigs, clusters, T)
      ()
    }
    try {
      CuratedCorpus.init(docs.where(col("doc_id") < t1), cc)
      IngestStream.bootstrapIndexes(spark, cc, sigs, clusters, T)
      val v0 = view()
      assert(v0.watermark == CuratedCorpus.BaseBatch)
      val ids0 = lockstep(v0)
      accept(docs.where(col("doc_id") >= t1 && col("doc_id") < t2), 0L)
      val v1 = view()
      assert(v1.watermark == 0L)
      val ids1 = lockstep(v1)
      assert(ids0.subsetOf(ids1) && ids1 != ids0)
      // MID-ROUTER TEAR: the corpus folds batch 1 but no index has —
      // exactly what a consumer racing the router's fold sequence
      // sees. The view pins to the min watermark (0) and excludes the
      // half-folded batch from the corpus leg too.
      val b1 = docs.where(col("doc_id") >= t2)
      val survivors1 = CuratedCorpus.foldBatchReturning(cc, b1, 1L)
      assert(!survivors1.isEmpty, "fixture: batch 1 must land docs")
      val torn = view()
      assert(torn.watermark == 0L,
        "the view must pin to the slowest root's watermark")
      assert(lockstep(torn) == ids1,
        "a half-folded batch must not show in any leg")
      assert(idsOf(CuratedCorpus.open(spark, cc)) != ids1,
        "fixture: the live corpus IS ahead of the view")
      // heal: the full router replays batch 1 idempotently
      accept(b1, 1L)
      val v2 = view()
      assert(v2.watermark == 1L)
      val ids2 = lockstep(v2)
      assert(ids1.subsetOf(ids2) && ids2 != ids1)
      // TORN RETRACTION: the corpus-first delete leg lands, the index
      // legs have not (the at-least-once window fsck reports as
      // id-drift). The corpus's standing tombstones mask the index
      // legs, so the view never answers for half-deleted ids.
      val dead = ids2.filter(_ % 5 == 0)
      assert(dead.nonEmpty)
      import spark.implicits._
      CuratedCorpus.retract(spark, cc,
        dead.toSeq.toDF("doc_id"), "doc_id", 1L)
      assert(idsOf(SignatureIndex.open(spark, sigs))
        .exists(dead.contains), "fixture: the sig root IS torn")
      val vTorn = view()
      assert(lockstep(vTorn) == ids2 -- dead,
        "half-deleted ids must not show in any leg")
      // heal the tear (the composed verb replays every leg), then
      // compact every root: the watermark must survive the collapse
      // (persisted markers) and the view must hold steady
      IngestStream.retractDocs(spark, dead.toSeq.toDF("doc_id"),
        "doc_id", 1L, cc, sigs, clusters)
      assert(lockstep(view()) == ids2 -- dead)
      CuratedCorpus.compact(spark, cc)
      SignatureIndex.compactThrough(spark, sigs, 1L)
      ClusterIndex.compactThrough(spark, clusters, 1L)
      val vEnd = view()
      assert(vEnd.watermark == 1L,
        "the watermark must survive a full collapse on every root")
      assert(lockstep(vEnd) == ids2 -- dead)
    } finally {
      CuratedCorpus.delete(spark, cc)
      SignatureIndex.delete(spark, sigs)
      ClusterIndex.delete(spark, clusters)
    }
  }

  test("as-of release cut: a fold landing between view and cut never moves the pinned clock") {
    import graft.dedup.{ClusterIndex, DedupQueries, SignatureIndex}
    import graft.pipeline.{CuratedCorpus, Release}
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val (t1, t2) = (mx * 8 / 10, mx * 9 / 10)
    val T = DedupQueries.IncrementalFuzzyThreshold
    val root = java.nio.file.Files
      .createTempDirectory("graft-asof-cut").toString
    val (cc, sigs, clusters, rel) =
      (s"$root/cc", s"$root/sigs", s"$root/clusters", s"$root/release")
    def idsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    def accept(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      IngestStream.acceptIntoCorpusIndexed(b,
        IngestStream.BatchReport(id, b.count(), Nil, 0.0, 0L),
        cc, sigs, clusters, T)
      ()
    }
    try {
      CuratedCorpus.init(docs.where(col("doc_id") < t1), cc)
      IngestStream.bootstrapIndexes(spark, cc, sigs, clusters, T)
      accept(docs.where(col("doc_id") >= t1 && col("doc_id") < t2), 0L)
      val lv = IngestStream.lockstepView(spark, cc, sigs, clusters)
      assert(lv.watermark == 0L)
      val viewIds = idsOf(lv.docs)
      // a fold lands BETWEEN the view and the cut — the race the
      // pinned bound exists for: the cut must read the state the
      // view's consumer decided on, not whatever landed since
      accept(docs.where(col("doc_id") >= t2), 1L)
      assert(CuratedCorpus.batchWatermark(spark, cc) == 1L,
        "fixture: the live clock IS ahead of the view")
      Release.buildFromCorpus(spark, cc, rel, 1, Release.Seed,
        Release.Budget, shards = 4, atBatch = Some(lv.watermark))
      val relIds = idsOf(Release.openVersion(spark, rel, 1))
      assert(relIds.nonEmpty && relIds.subsetOf(viewIds),
        "the cut must contain only ids the view's corpus leg answered")
      val late = idsOf(CuratedCorpus.open(spark, cc)) -- viewIds
      assert(late.nonEmpty && relIds.intersect(late).isEmpty,
        "docs folded after the view must not reach the pinned cut")
      val lin = Release.lineageJson(spark, rel, 1)
      assert(lin.exists(_.contains("\"corpus_batch\":0")),
        s"lineage must record the PINNED clock (0), not the live one: $lin")
      // the cadence on the same pinned bound must not re-cut — the
      // pinned clock has not moved, whatever the live table did
      assert(Release.maintainFromCorpus(spark, cc, rel, Release.Seed,
        Release.Budget, shards = 4, everyBatches = 1,
        atBatch = Some(lv.watermark)).isEmpty,
        "an unmoved pinned bound must never be due")
    } finally {
      CuratedCorpus.delete(spark, cc)
      SignatureIndex.delete(spark, sigs)
      ClusterIndex.delete(spark, clusters)
      Release.delete(spark, rel)
    }
  }

  test("CDC upsert: same-batch delete + byte-identical re-add lands the replacement") {
    import graft.dedup.{ClusterIndex, DedupQueries, SignatureIndex}
    import graft.pipeline.CuratedCorpus
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val t1 = mx * 9 / 10
    val T = DedupQueries.IncrementalFuzzyThreshold
    val root = java.nio.file.Files
      .createTempDirectory("graft-upsert").toString
    val (cc, sigs, clusters) = (s"$root/cc", s"$root/sigs", s"$root/clusters")
    def idsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    def runBatch(b: org.apache.spark.sql.DataFrame, id: Long) =
      IngestStream.acceptIntoCorpusIndexedWithDeletes(b,
        IngestStream.BatchReport(id, b.count(), Nil, 0.0, 0L),
        "__del", cc, sigs, clusters, T)
    try {
      CuratedCorpus.init(docs.where(col("doc_id") < t1), cc)
      IngestStream.bootstrapIndexes(spark, cc, sigs, clusters, T)
      val ids0 = idsOf(CuratedCorpus.open(spark, cc))
      val x = ids0.min // any standing train doc
      // the upsert batch: delete x, re-add x's EXACT bytes under a new
      // id (same text → same train bucket, so the replacement is a
      // train doc exactly like the original). Without the carve-out
      // the adds fold first, x's retained hash suppresses the re-add,
      // and the delete then retracts the only standing copy — lost.
      val newId = mx + 1001
      val readd = docs.where(col("doc_id") === x)
        .withColumn("doc_id", lit(newId))
        .withColumn("__del", lit(null).cast("boolean"))
      val upsert = readd.unionByName(
        docs.where(col("doc_id") === x).withColumn("__del", lit(true)))
      runBatch(upsert, 0L)
      val want = ids0 - x + newId
      assert(idsOf(CuratedCorpus.open(spark, cc)) == want,
        "the replacement must land; the original must retract")
      val texts = CuratedCorpus.open(spark, cc)
        .where(col("doc_id").isin(x, newId))
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val xText = docs.where(col("doc_id") === x)
        .select("text").head().getString(0)
      assert(texts == Map(newId -> xText), s"stood: ${texts.keySet}")
      assert(idsOf(SignatureIndex.open(spark, sigs)) == want &&
        idsOf(ClusterIndex.open(spark, clusters)) == want,
        "the indexes must answer for the replacement in lockstep")
      // at-least-once REDELIVERY, pre-compaction: the exclusion
      // re-derives from the RAW standing docs (x's rows stand until a
      // purge), so the replay re-lands the re-add instead of
      // suppressing it against x's retained hash
      runBatch(upsert, 0L)
      assert(idsOf(CuratedCorpus.open(spark, cc)) == want,
        "redelivery must not lose the replacement")
      // compaction purges x physically; a POST-compaction replay folds
      // to an empty overwrite (the replacement lives in the base) —
      // the settled-batch argument in standingContentHashes's scaladoc
      CuratedCorpus.compact(spark, cc)
      runBatch(upsert, 0L)
      assert(idsOf(CuratedCorpus.open(spark, cc)) == want,
        "a replayed already-compacted upsert must touch nothing")
      // the retained-hash contract is UNTOUCHED for resubmissions that
      // do not travel with their own delete: the same content under
      // yet another id, no delete leg, stays suppressed
      val resubmit = docs.where(col("doc_id") === x)
        .withColumn("doc_id", lit(mx + 2002))
        .withColumn("__del", lit(null).cast("boolean"))
      runBatch(resubmit, 1L)
      assert(idsOf(CuratedCorpus.open(spark, cc)) == want,
        "a bare resubmission of deleted content must stay suppressed")

      // MAINTENANCE ORDERING: the cadence runs strictly AFTER the
      // retraction legs. With an in-batch dial of 1 and a held sig
      // root, the delete leg fails loudly — and the corpus fold must
      // STILL be standing (un-compacted), or the redelivery's upsert
      // carve-out would re-land the re-add beside its already-
      // collapsed copy and duplicate the document.
      val newId2 = mx + 3003
      val upsert2 = docs.where(col("doc_id") === x)
        .withColumn("doc_id", lit(newId2))
        .withColumn("__del", lit(null).cast("boolean"))
        .unionByName(docs.where(col("doc_id") === x)
          .withColumn("doc_id", lit(newId))
          .withColumn("__del", lit(true)))
      val held = new java.util.concurrent.atomic.AtomicReference[
        graft.sources.Lease.Held]
      val t = new Thread(() =>
        held.set(graft.sources.Lease.acquire(spark, sigs)))
      t.start(); t.join()
      intercept[graft.sources.Lease.HeldElsewhereException] {
        IngestStream.acceptIntoCorpusIndexedWithDeletes(upsert2,
          IngestStream.BatchReport(2L, upsert2.count(), Nil, 0.0, 0L),
          "__del", cc, sigs, clusters, T, maintainEvery = Some(1))
      }
      assert(CuratedCorpus.foldCount(spark, cc) > 0,
        "a failed delete leg must leave the batch's fold un-compacted " +
          "(maintenance is ordered after the deletes)")
      val t2 = new Thread(() => held.get().release())
      t2.start(); t2.join()
      // the redelivery heals every leg AND runs the deferred
      // maintenance; the replacement lands exactly once
      IngestStream.acceptIntoCorpusIndexedWithDeletes(upsert2,
        IngestStream.BatchReport(2L, upsert2.count(), Nil, 0.0, 0L),
        "__del", cc, sigs, clusters, T, maintainEvery = Some(1))
      val want2 = want - newId + newId2
      val finalIds = idsOf(CuratedCorpus.open(spark, cc))
      assert(finalIds == want2,
        s"redelivered held-root upsert must converge")
      assert(CuratedCorpus.open(spark, cc).count() == want2.size.toLong,
        "the redelivered re-add must not duplicate")
      assert(idsOf(SignatureIndex.open(spark, sigs)) == want2 &&
        idsOf(ClusterIndex.open(spark, clusters)) == want2)
      // the composed delete path narrows through the SAME lossless
      // guard as the tombstone write: a fractional id fails the verb
      // loudly instead of truncating into the wrong document
      import spark.implicits._
      val e = intercept[Exception] {
        IngestStream.retractDocs(spark, Seq(7.9d).toDF("doc_id"),
          "doc_id", 3L, cc, sigs, clusters)
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(t => t.getMessage != null &&
        t.getMessage.contains("retraction id")), s"wrong failure: $e")
    } finally {
      CuratedCorpus.delete(spark, cc)
      SignatureIndex.delete(spark, sigs)
      ClusterIndex.delete(spark, clusters)
    }
  }

  test("instruction rows bypass the gates: a delete-tagged stream deletes without tripping dq") {
    import graft.dedup.{DedupQueries, SignatureIndex, ClusterIndex}
    import graft.pipeline.{CuratedCorpus, PipelineQueries}
    val pool = Vector.tabulate(40)(i => f"word$i%02d")
    def doc(i: Int): String =
      (0 until 24).map(j => pool((i * 7 + j) % 40)).mkString(" ") +
        s" marker$i"
    def asDocs(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .withColumn("source",
          concat(lit("s"), (col("doc_id") % 2).cast("string")))
        .withColumn("lang", lit("de"))
        .select("doc_id", "source", "lang", "text")
    val corpus = asDocs(Seq.tabulate(30)(i => (i.toLong, doc(i))))
    val T = DedupQueries.IncrementalFuzzyThreshold
    val root = java.nio.file.Files
      .createTempDirectory("graft-instr").toString
    val (cc, sigs, clusters) = (s"$root/cc", s"$root/sigs", s"$root/clusters")
    try {
      CuratedCorpus.init(corpus, cc)
      IngestStream.bootstrapIndexes(spark, cc, sigs, clusters, T)
      def idsOf(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id").collect().map(_.getLong(0)).toSet
      val dead = idsOf(CuratedCorpus.open(spark, cc)).toSeq.sorted.take(2)
      assert(dead.size == 2)

      val schema = StructType.fromDDL("doc_id BIGINT, source STRING, " +
        "lang STRING, text STRING, __del BOOLEAN")
      implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
      val mem = MemoryStream[Row](enc, spark)
      // the rule NULL-text instruction rows would flip: notSatisfied
      // counts a NULL predicate as a violation, so WITHOUT the
      // instructions bypass every mixed batch below quarantines
      val rules = Seq(DqGate.Rule("text_nonempty",
        DqGate.notSatisfied(length(trim(col("text"))) > 0)))
      val reports = scala.collection.mutable.ArrayBuffer
        .empty[IngestStream.BatchReport]
      val (writer, release) = IngestStream.gated(
        mem.toDF(), corpus, "doc_id", "text", rules, threshold = 0.99,
        instructions = Some(col("__del"))) { (batch, report) =>
        require(report.dqPass,
          s"instruction rows leaked into the dq gate: ${report.dq}")
        IngestStream.acceptIntoCorpusIndexedWithDeletes(batch, report,
          "__del", cc, sigs, clusters, T)
        reports += report
      }
      // document rows ride the common sink shape (flag NULL — only
      // deletes are stamped); instruction rows carry NULL text
      def docRows(rows: Seq[(Long, String)]): Seq[Row] =
        asDocs(rows).withColumn("__del", lit(null).cast("boolean"))
          .collect().toSeq
      def delRows(ids: Seq[Long]): Seq[Row] = ids.map(id =>
        Row(id, "s0", "de", null, java.lang.Boolean.TRUE))
      val b0 = Seq.tabulate(3)(j => (100L + j, doc(100 + j)))
      val adds1 = Seq((200L, doc(200)), (201L, doc(201)))
      val q = writer.start()
      try {
        mem.addData(docRows(b0): _*); q.processAllAvailable()
        // the MIXED batch: new docs plus delete instructions naming
        // standing curated docs
        mem.addData(docRows(adds1) ++ delRows(dead): _*)
        q.processAllAvailable()
        // an ALL-instructions batch (a GDPR sweep): gates measure zero
        // document rows — degenerate drift reads 0, dq passes
        val dead2 = idsOf(CuratedCorpus.open(spark, cc)).toSeq.sorted
          .takeRight(1)
        mem.addData(delRows(dead2): _*); q.processAllAvailable()
        val want = idsOf(PipelineQueries.curatedTrainDocs(
          corpus.unionByName(asDocs(b0 ++ adds1)))) --
          dead -- dead2
        assert(idsOf(CuratedCorpus.open(spark, cc)) == want)
        assert(idsOf(SignatureIndex.open(spark, sigs)) == want)
        assert(idsOf(ClusterIndex.open(spark, clusters)) == want)
        assert(reports.size == 3 && reports.forall(_.dqPass))
        assert(reports.last.drift == 0.0,
          s"all-instructions drift must read 0, got ${reports.last.drift}")
      } finally { q.stop(); release() }
    } finally {
      CuratedCorpus.delete(spark, cc)
      SignatureIndex.delete(spark, sigs)
      ClusterIndex.delete(spark, clusters)
    }
  }

  test("a held root fails the delete batch loudly; the redelivery heals the tear") {
    import java.util.concurrent.atomic.AtomicReference
    import graft.dedup.{ClusterIndex, DedupQueries, SignatureIndex}
    import graft.pipeline.{CuratedCorpus, Fsck}
    import graft.sources.Lease
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val t1 = mx * 8 / 10
    val T = DedupQueries.IncrementalFuzzyThreshold
    val root = java.nio.file.Files
      .createTempDirectory("graft-del-held").toString
    val (cc, sigs, clusters) = (s"$root/cc", s"$root/sigs", s"$root/clusters")
    def idsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    try {
      CuratedCorpus.init(docs.where(col("doc_id") < t1), cc)
      IngestStream.bootstrapIndexes(spark, cc, sigs, clusters, T)
      val b1 = docs.where(col("doc_id") >= t1).withColumn("__del", lit(false))
      IngestStream.acceptIntoCorpusIndexedWithDeletes(b1,
        IngestStream.BatchReport(0L, b1.count(), Nil, 0.0, 0L),
        "__del", cc, sigs, clusters, T)
      val ids0 = idsOf(CuratedCorpus.open(spark, cc))
      val dead = ids0.filter(_ % 6 == 0)
      val mixed = docs.where(col("doc_id").isin(dead.toSeq: _*))
        .withColumn("__del", lit(true))
      // an AD-HOC maintainer holds the SIGNATURE root (from another
      // thread — a genuine external holder): the delete batch must
      // fail LOUDLY mid-verb (a delete is never silently skipped),
      // leaving the documented torn state
      val held = new AtomicReference[Lease.Held]
      val t = new Thread(() => held.set(Lease.acquire(spark, sigs)))
      t.start(); t.join()
      intercept[Lease.HeldElsewhereException] {
        IngestStream.acceptIntoCorpusIndexedWithDeletes(mixed,
          IngestStream.BatchReport(1L, mixed.count(), Nil, 0.0, 0L),
          "__del", cc, sigs, clusters, T)
      }
      val t2 = new Thread(() => held.get().release())
      t2.start(); t2.join()
      // the tear: corpus silenced, signature root untouched — fsck's
      // tombs-standing-subset tell
      assert(idsOf(CuratedCorpus.open(spark, cc)) == ids0 -- dead)
      assert(idsOf(SignatureIndex.open(spark, sigs)) == ids0)
      val torn = Fsck.check(spark, cc, sigs, clusters)
      assert(torn.exists(_.kind == "id-drift") &&
        torn.filter(_.kind == "tombs-standing").map(_.root) == Seq(cc),
        s"$torn")
      // the REDELIVERED batch (at-least-once is the retry) heals
      // every leg idempotently
      IngestStream.acceptIntoCorpusIndexedWithDeletes(mixed,
        IngestStream.BatchReport(1L, mixed.count(), Nil, 0.0, 0L),
        "__del", cc, sigs, clusters, T)
      val expected = ids0 -- dead
      assert(idsOf(CuratedCorpus.open(spark, cc)) == expected)
      assert(idsOf(SignatureIndex.open(spark, sigs)) == expected)
      assert(idsOf(ClusterIndex.open(spark, clusters)) == expected)
      assert(Fsck.check(spark, cc, sigs, clusters)
        .forall(_.kind == "tombs-standing"))
    } finally {
      CuratedCorpus.delete(spark, cc)
      SignatureIndex.delete(spark, sigs)
      ClusterIndex.delete(spark, clusters)
    }
  }

  test("composed retraction: torn after the corpus leg, fsck tells, redelivery heals") {
    import graft.dedup.{ClusterIndex, DedupQueries, SignatureIndex}
    import graft.pipeline.{CuratedCorpus, Fsck}
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val t1 = mx * 8 / 10
    val T = DedupQueries.IncrementalFuzzyThreshold
    val root = java.nio.file.Files
      .createTempDirectory("graft-retract-heal").toString
    val (cc, sigs, clusters) = (s"$root/cc", s"$root/sigs", s"$root/clusters")
    try {
      CuratedCorpus.init(docs.where(col("doc_id") < t1), cc)
      IngestStream.bootstrapIndexes(spark, cc, sigs, clusters, T)
      val b1 = docs.where(col("doc_id") >= t1)
      IngestStream.acceptIntoCorpusIndexed(b1,
        IngestStream.BatchReport(0L, b1.count(), Nil, 0.0, 0L), cc, sigs,
        clusters, T)
      def idsOf(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id").collect().map(_.getLong(0)).toSet
      val corpusIds = idsOf(CuratedCorpus.open(spark, cc))
      val dead = corpusIds.filter(_ % 3 == 0)
      assert(dead.nonEmpty && dead.size < corpusIds.size)
      val deadDf = CuratedCorpus.open(spark, cc)
        .where(col("doc_id") % 3 === 0).select("doc_id")
      val wm = CuratedCorpus.batchWatermark(spark, cc)

      // TORN: crash right after retractDocs's first (corpus) leg —
      // the corpus is silenced, the indexes over-answer
      CuratedCorpus.retract(spark, cc, deadDf, "doc_id", wm)
      assert(idsOf(CuratedCorpus.open(spark, cc)) == corpusIds -- dead)
      assert(idsOf(SignatureIndex.open(spark, sigs)) == corpusIds)
      // fsck's documented tell: tombs-standing on a strict subset of
      // the roots, plus the id-drift the torn run caused
      val torn = Fsck.check(spark, cc, sigs, clusters)
      assert(torn.filter(_.kind == "tombs-standing").map(_.root) == Seq(cc))
      val drift = torn.filter(_.kind == "id-drift")
      assert(drift.size == 1 &&
        drift.head.detail.contains(s"${dead.size} ids") &&
        drift.head.detail.contains("missing from corpus"), s"$torn")
      assert(torn.size == 2, s"$torn")

      // REDELIVERY of the composed verb (every leg replay-idempotent):
      // all structures silenced at once, drift gone, tombs on every root
      IngestStream.retractDocs(spark, deadDf, "doc_id", wm, cc, sigs,
        clusters)
      val expected = corpusIds -- dead
      assert(idsOf(CuratedCorpus.open(spark, cc)) == expected)
      assert(idsOf(SignatureIndex.open(spark, sigs)) == expected)
      assert(idsOf(ClusterIndex.open(spark, clusters)) == expected)
      val healed = Fsck.check(spark, cc, sigs, clusters)
      assert(healed.forall(_.kind == "tombs-standing") &&
        healed.map(_.root).toSet == Set(cc, sigs, clusters), s"$healed")

      // each root's own compaction purges physically and clears
      CuratedCorpus.compact(spark, cc)
      SignatureIndex.compact(spark, sigs)
      ClusterIndex.compact(spark, clusters)
      assert(Fsck.check(spark, cc, sigs, clusters).isEmpty)
      Seq(s"$cc/docs", s"$sigs/sigs", s"$clusters/assignments").foreach(d =>
        assert(spark.read.parquet(d).where(col("doc_id") % 3 === 0)
          .count() == 0L, s"unpurged rows under $d"))
      assert(idsOf(CuratedCorpus.open(spark, cc)) == expected)
      assert(idsOf(ClusterIndex.open(spark, clusters)) == expected)
    } finally {
      CuratedCorpus.delete(spark, cc)
      SignatureIndex.delete(spark, sigs)
      ClusterIndex.delete(spark, clusters)
    }
  }

  test("quarantine refuses a batch that already carries stamps") {
    val stamped = Seq((1L, "x", 9L, "old")).toDF(
      "doc_id", "text", "__batch_id", "__reason")
    val report = IngestStream.BatchReport(1L, 1L, Nil, 0.0, 0L)
    intercept[IllegalArgumentException] {
      IngestStream.quarantine(stamped, report, "again", "/tmp/never-written")
    }
  }
}
