package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.streaming.EventTimeOps
import graft.streaming.EventTimeOps.{SessionInput, SessionOut}

/** Event-time streaming: watermarked window agg drops late data;
  * stateful sessionization emits on gap timeout. */
class EventTimeSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-15 10:$minute%02d:00")

  test("streaming dedup keeps the first record per content key within the watermark") {
    val schema = StructType.fromDDL("ts TIMESTAMP, doc_hash STRING, doc_id BIGINT")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    val q = EventTimeOps.dedupStream(mem.toDF(), "ts", Seq("doc_hash"), "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Row(ts(0), "h1", 1L), Row(ts(1), "h2", 2L),
        Row(ts(1), "h1", 3L)) // same-batch duplicate of h1
      q.processAllAvailable()
      mem.addData(Row(ts(2), "h1", 4L), Row(ts(3), "h3", 5L)) // replayed h1
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 5L), "first h1 kept, duplicates dropped")
    } finally q.stop()
  }

  test("watermarked windowed aggregation drops events later than the watermark") {
    import spark.implicits._
    val schema = StructType.fromDDL("ts TIMESTAMP, event_type STRING, value DOUBLE")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    val q = EventTimeOps.windowedAgg(mem.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("win_agg")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Row(ts(0), "click", 1.0), Row(ts(1), "click", 2.0),
        Row(ts(7), "view", 5.0))
      q.processAllAvailable()
      // advance watermark far past the first windows so they close
      mem.addData(Row(ts(40), "click", 9.0))
      q.processAllAvailable()
      // this event is way behind the watermark (40-10=30) → dropped
      mem.addData(Row(ts(2), "click", 100.0))
      q.processAllAvailable()
      mem.addData(Row(ts(55), "flush", 0.0))
      q.processAllAvailable()
      val rows = spark.table("win_agg")
        .select("win_start", "event_type", "n_events", "total_value")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows.contains((ts(0), "click", 2L, 3.0)))   // late 100.0 NOT included
      assert(rows.contains((ts(5), "view", 1L, 5.0)))
      assert(!rows.exists(r => r._4 == 100.0 || r._4 == 103.0))
    } finally q.stop()
  }

  test("streaming windowed distinct-user sketch matches the batch run exactly") {
    import spark.implicits._
    // Exact COUNT(DISTINCT) is rejected by streaming aggregation —
    // the sketch isn't a convenience here, it's the only path.
    val schema = StructType.fromDDL("ts TIMESTAMP, event_type STRING, user_id BIGINT")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val rows = for {
      m <- 0 until 12; u <- 0 until 20
    } yield Row(ts(m), if (u % 3 == 0) "view" else "click", (u % 7).toLong)
    val memEx = MemoryStream[Row](enc, spark)
    intercept[org.apache.spark.sql.AnalysisException] {
      memEx.toDF().withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"))
        .agg(count_distinct(col("user_id")))
        .writeStream.format("memory").queryName("never")
        .outputMode(OutputMode.Append).start()
    }
    val mem = MemoryStream[Row](enc, spark)
    val q = EventTimeOps.windowedDistinct(mem.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("win_distinct")
      .outputMode(OutputMode.Append).start()
    try {
      // two micro-batches, then advance the watermark so all real
      // windows close and append-mode emits them
      mem.addData(rows.take(120): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(120): _*)
      mem.addData(Row(ts(59), "flush", 999L))
      q.processAllAvailable()
      val streamed = spark.table("win_distinct")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .filter(_._2 != "flush").toSet
      val batch = EventTimeOps.windowedDistinct(
        spark.createDataFrame(spark.sparkContext.parallelize(rows), schema))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      // HLL register merge is a per-bucket max — micro-batch order
      // can't change the terminal estimate
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed.forall(_._3 == 7L)) // rsd 2% is exact at card 7
    } finally q.stop()
  }

  test("streaming windowed quantiles stay within the GK rank-error bound") {
    import spark.implicits._
    val schema = StructType.fromDDL("ts TIMESTAMP, event_type STRING, value DOUBLE")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    // one 5-min window, values 1..200 for "click" — exact p50=100.5±,
    // p95=190.x; GK at accuracy 10000 on 200 rows is rank-exact
    val rows = (1 to 200).map(i => Row(ts(i % 5), "click", i.toDouble))
    val mem = MemoryStream[Row](enc, spark)
    val q = EventTimeOps.windowedQuantiles(mem.toDF(), Seq(0.5, 0.95))
      .writeStream.format("memory").queryName("win_q")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(rows.take(90): _*)   // two micro-batches: merge path
      q.processAllAvailable()
      mem.addData(rows.drop(90): _*)
      mem.addData(Row(ts(59), "flush", 0.0))
      q.processAllAvailable()
      val got = spark.table("win_q").collect()
        .filter(_.getString(1) == "click")
        .map(r => r.getSeq[Double](2))
      assert(got.length == 1)
      val Seq(p50, p95) = got.head.toSeq
      // rank error ≤ n/accuracy = 0.02 ranks — value within one step
      assert(math.abs(p50 - 100.0) <= 1.0, s"p50=$p50")
      assert(math.abs(p95 - 190.0) <= 1.0, s"p95=$p95")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization emits sessions after gap timeout") {
    import spark.implicits._
    val mem = MemoryStream[SessionInput](spark)
    val q = EventTimeOps.sessionize(mem.toDS(), gapMs = 5 * 60 * 1000L, "1 minute")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 2 min apart (one session), user 2: one event
      mem.addData(SessionInput(1L, ts(0), 1.0), SessionInput(1L, ts(2), 2.0),
        SessionInput(2L, ts(1), 7.0))
      q.processAllAvailable()
      // jump event time far ahead → both sessions time out and emit
      mem.addData(SessionInput(3L, ts(50), 0.5))
      q.processAllAvailable()
      mem.addData(SessionInput(3L, ts(59), 0.5))
      q.processAllAvailable()
      val got = spark.table("sessions").as[SessionOut].collect()
        .map(s => (s.user_id, s.n_events, s.total_value)).toSet
      assert(got.contains((1L, 2, 3.0)))
      assert(got.contains((2L, 1, 7.0)))
    } finally q.stop()
  }

  test("streaming dedup-against-corpus matches the batch operator across micro-batches") {
    import graft.dedup.Dedup
    import spark.implicits._
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six")
    ).toDF("doc_id", "text").persist()
    val mem = MemoryStream[Row](enc, spark)
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val (corpusIndex, releaseIndex) =
      Dedup.corpusNearDupIndex(corpus, "doc_id", "text")
    val q = EventTimeOps.persistedBatches(mem.toDF()) { (batch, _) =>
      val (m, releaseBatch) = Dedup.probeNearDupIndex(
        batch, corpusIndex, "doc_id", "text", 0.3)
      try got ++= m.collect().map(r => (r.getLong(0), r.getLong(1)))
      finally releaseBatch()
    }.start()
    try {
      val b1 = Seq(Row(10L, "alpha beta gamma delta epsilon eta"), // ~dup of 1
        Row(11L, "completely unrelated text body here"))
      val b2 = Seq(Row(12L, "one two three four five seven"))      // ~dup of 3
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val batchEquiv = Dedup.incrementalNearDup(
        (b1 ++ b2).map(r => (r.getLong(0), r.getString(1))).toDF("doc_id", "text"),
        corpus, "doc_id", "text", 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.toSet == batchEquiv && got.contains((10L, 1L)) &&
        got.contains((12L, 3L)), s"stream $got vs batch $batchEquiv")
      val cached = spark.sparkContext.getPersistentRDDs.size
      releaseIndex()
      assert(spark.sparkContext.getPersistentRDDs.size == cached - 1,
        "release handle must drop the standing corpus index")
    } finally { q.stop(); corpus.unpersist() }
  }

  test("streaming simhash dedup-against-corpus matches the batch probe") {
    import graft.dedup.Dedup
    import spark.implicits._
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mk = (n: Int) => (1 to n).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, mk(40)),
      (3L, (1 to 40).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val mem = MemoryStream[Row](enc, spark)
    val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val (corpusIndex, releaseIndex) =
      Dedup.corpusSimhashIndex(corpus, "doc_id", "text", 5, 6, 2)
    val q = EventTimeOps.persistedBatches(mem.toDF()) { (batch, _) =>
      got ++= Dedup.probeSimhashIndex(batch, corpusIndex, "doc_id", "text",
        5, 6, 2).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }.start()
    try {
      // exact dups (hamming 0) — a 1-token edit in 40 can exceed
      // hamming 5 over the FULL 120-bit distance; this test pins the
      // stream ≡ batch contract and index reuse, not recall
      val b1 = Seq(Row(10L, mk(40)),                            // dup of 1
        Row(11L, "completely unrelated text body here"))
      val b2 = Seq(Row(12L, mk(40)))                            // dup of 1
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val batchEquiv = Dedup.simhashProbePairs(
        (b1 ++ b2).map(r => (r.getLong(0), r.getString(1))).toDF("doc_id", "text"),
        corpus, "doc_id", "text", 5, 6, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got.toSet == batchEquiv, s"stream $got vs batch $batchEquiv")
      assert(got.exists(_._2 == 1L) && !got.exists(_._2 == 3L),
        "near-dups of corpus doc 1 must match; unrelated doc 3 must not")
      val cached = spark.sparkContext.getPersistentRDDs.size
      releaseIndex()
      assert(spark.sparkContext.getPersistentRDDs.size == cached - 1,
        "release handle must drop the standing fingerprint index")
    } finally q.stop()
  }

  test("streaming decontamination matches the batch operator against a standing eval index") {
    import graft.dedup.Dedup
    import spark.implicits._
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val eval = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "one two three four five six")
    ).toDF("doc_id", "text")
    val mem = MemoryStream[Row](enc, spark)
    val got = scala.collection.mutable.Map.empty[Long, (Long, Long, Boolean)]
    val (index, releaseIndex) = Dedup.evalGramIndex(eval, "text", k = 3)
    val q = EventTimeOps.persistedBatches(mem.toDF()) { (batch, _) =>
      got ++= Dedup.contaminationAgainstIndex(batch, "doc_id", "text", index,
        k = 3, threshold = 0.5).collect().map(r =>
          r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(4))))
    }.start()
    try {
      mem.addData(
        Row(1L, "alpha beta gamma delta leaked prefix"),  // 2 of 4 grams hit
        Row(2L, "totally novel words nowhere in evals"))
      q.processAllAvailable()
      mem.addData(Row(3L, "one two three four five six"))  // full overlap
      q.processAllAvailable()
      val batchEquiv = Dedup.contaminationAgainstIndex(
        Seq((1L, "alpha beta gamma delta leaked prefix"),
          (2L, "totally novel words nowhere in evals"),
          (3L, "one two three four five six")).toDF("doc_id", "text"),
        "doc_id", "text",
        Dedup.evalGramIndex(eval, "text")._1)
        .collect().map(r =>
          r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
      assert(got.toMap == batchEquiv, s"stream $got vs batch $batchEquiv")
      assert(got(3L)._3 && !got(2L)._3, "full overlap flags; novel text passes")
      assert(got(1L) == ((4L, 2L, true)), s"partial overlap wrong: ${got(1L)}")
    } finally { q.stop(); releaseIndex() }
  }

  test("streaming embedding dedup-against-corpus matches the batch probe") {
    import graft.ann.Similarity
    import spark.implicits._
    val schema = StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val mem = MemoryStream[Row](enc, spark)
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val (corpusIndex, releaseIndex) = Similarity.corpusEmbedIndex(corpus,
      "vec_id", "embedding", bands = 2, planesPerBand = 4, dims = 4)
    val q = EventTimeOps.persistedBatches(mem.toDF()) { (batch, _) =>
      got ++= Similarity.probeEmbedIndex(batch, corpusIndex, "vec_id",
        "embedding", bands = 2, planesPerBand = 4, dims = 4, threshold = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }.start()
    try {
      // scaled copies share every projection sign, hence every band
      // bucket — collision is provable, and cosine is exactly 1.0
      val b1 = Seq(Row(10L, Seq(0.5f, 0f, 0f, 0f)),    // dup of 1
        Row(11L, Seq(0f, 0f, 1f, 0f)))                 // orthogonal to both
      val b2 = Seq(Row(12L, Seq(2f, 0f, 0f, 0f)))      // dup of 1
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // release the standing index BEFORE building the batch
      // equivalent: its index persists the identical corpus plan, and
      // Spark's cache manager dedups by canonicalized plan — either
      // handle would drop the single shared entry
      val cached = spark.sparkContext.getPersistentRDDs.size
      releaseIndex()
      assert(spark.sparkContext.getPersistentRDDs.size == cached - 1,
        "release handle must drop the standing embedding index")
      val (batchDf, releaseBatchIdx) = Similarity.incrementalEmbedNearDup(
        (b1 ++ b2).map(r => (r.getLong(0), r.getSeq[Float](1)))
          .toDF("vec_id", "embedding"),
        corpus, "vec_id", "embedding", 2, 4, 4, 0.9)
      val batchEquiv =
        try batchDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        finally releaseBatchIdx()
      assert(got.toSet == batchEquiv, s"stream $got vs batch $batchEquiv")
      assert(got.contains((10L, 1L)) && got.contains((12L, 1L)) &&
        !got.exists(_._2 == 3L),
        "scaled copies of corpus vec 1 must match; orthogonal vecs must not")
    } finally q.stop()
  }

  test("persistedBatches: body sees a persisted batch; a throwing body fails the query and leaves nothing persisted") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    import org.apache.spark.storage.StorageLevel
    val schema = StructType.fromDDL("id BIGINT")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    val levels = scala.collection.mutable.ArrayBuffer.empty[StorageLevel]
    val boom = new IllegalStateException("body failed on batch 1")
    val before = spark.sparkContext.getPersistentRDDs.size
    val q = EventTimeOps.persistedBatches(mem.toDF()) { (batch, batchId) =>
      levels += batch.storageLevel
      // materialize the batch's cache, so its release is observable
      batch.count()
      if (batchId == 1L) throw boom
    }.start()
    try {
      mem.addData(Row(1L), Row(2L)); q.processAllAvailable()
      mem.addData(Row(3L))
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      val causes = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(causes.contains(boom), s"query failed with $causes, not the body's exception")
    } finally q.stop()
    assert(levels.size == 2 && levels.forall(_ != StorageLevel.NONE),
      s"body must see a persisted batch: $levels")
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "a failed batch must leave nothing persisted")
  }

  test("clusterFoldStream: folds batches, sees cross-batch dups, compacts in-loop") {
    import graft.dedup.{ClusterIndex, Clusters, Dedup, SignatureIndex}
    import graft.pipeline.DocStore
    import spark.implicits._
    val A = "alpha beta gamma delta epsilon zeta eta theta"
    val B = "one two three four five six seven eight"
    val C = "red orange yellow green blue indigo violet pink"
    val D = "new dog cat fish bird horse cow sheep"
    val corpus = Seq((1L, A), (2L, A), (3L, B), (4L, C)).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft-clusterstream").toString
    val docsPath = s"$root/docs"
    val sigPath = s"$root/sigs"
    val clusterPath = s"$root/clusters"
    def resolveAll(docs: org.apache.spark.sql.DataFrame) =
      Clusters.resolve(docs, "doc_id",
        Dedup.nearDupPairs(docs, "doc_id", "text", 0.9)
          .select("doc_a", "doc_b"), "doc_a", "doc_b")
        .select("doc_id", "cluster")
    DocStore.write(corpus, "doc_id", "text", docsPath)
    SignatureIndex.write(corpus, "doc_id", "text", sigPath)
    ClusterIndex.write(resolveAll(corpus), clusterPath)

    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    val reports = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Boolean)]
    // flat-memory pin: the at-rest-backed loop must leave NO growing
    // resident state (the prior design checkpointed one plan leaf per
    // batch and held a corpus-sized persisted index for the session)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val writer = EventTimeOps.clusterFoldStream(
      mem.toDF(), "doc_id", "text", docsPath, sigPath, clusterPath,
      threshold = 0.9,
      maintainEvery = Some(1)) { (id, n, comp) => reports += ((id, n, comp)) }
    val q = writer.start()
    try {
      // batch 0: a duplicate of corpus content plus NEW content D
      mem.addData(Row(10L, A), Row(11L, D))
      q.processAllAvailable()
      // batch 1: a duplicate of BATCH 0's D — the corpus never saw D,
      // so this edge is visible only through the at-rest tables the
      // stream folded batch 0 into (the cross-batch case a static
      // snapshot index misses)
      mem.addData(Row(20L, D))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.sparkContext.getPersistentRDDs.size <= persistedBefore,
      "at-rest-backed stream must not accumulate persisted state")

    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = asMap(ClusterIndex.open(spark, clusterPath))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L,
      10L -> 1L, 11L -> 11L, 20L -> 11L))
    // ≡ the from-scratch resolve of everything the stream ever saw —
    // the incremental theorem through the STREAM face
    val union = corpus.unionByName(
      Seq((10L, A), (11L, D), (20L, D)).toDF("doc_id", "text"))
    assert(got == asMap(resolveAll(union)))
    // the settled-only cadence: batch 0 had no settled fold yet;
    // batch 1 compacted fold 0 mid-stream
    assert(reports.toSeq == Seq((0L, 2L, false), (1L, 1L, true)))
    assert(ClusterIndex.foldCount(spark, clusterPath) == 1)
    // the sibling stores folded and compacted in the same loop: every
    // labeled doc's text and signature is at rest
    assert(DocStore.open(spark, docsPath).count() == 7L)
    assert(SignatureIndex.open(spark, sigPath).count() == 7L)
    ClusterIndex.delete(spark, root)
  }

  test("clusterFoldStream restart: reopen the tables, nothing re-signed; replay converges") {
    import graft.dedup.{ClusterIndex, Clusters, Dedup, SignatureIndex}
    import graft.pipeline.DocStore
    import spark.implicits._
    val A = "alpha beta gamma delta epsilon zeta eta theta"
    val B = "one two three four five six seven eight"
    val D = "new dog cat fish bird horse cow sheep"
    val corpus = Seq((1L, A), (2L, B)).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft-clusterrestart").toString
    val docsPath = s"$root/docs"
    val sigPath = s"$root/sigs"
    val clusterPath = s"$root/clusters"
    def resolveAll(docs: org.apache.spark.sql.DataFrame) =
      Clusters.resolve(docs, "doc_id",
        Dedup.nearDupPairs(docs, "doc_id", "text", 0.9)
          .select("doc_a", "doc_b"), "doc_a", "doc_b")
        .select("doc_id", "cluster")
    DocStore.write(corpus, "doc_id", "text", docsPath)
    SignatureIndex.write(corpus, "doc_id", "text", sigPath)
    ClusterIndex.write(resolveAll(corpus), clusterPath)
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)

    def runStream(batches: Seq[Seq[Row]]): Unit = {
      val mem = MemoryStream[Row](enc, spark)
      val writer = EventTimeOps.clusterFoldStream(
        mem.toDF(), "doc_id", "text", docsPath, sigPath, clusterPath,
        threshold = 0.9) { (_, _, _) => () }
      val q = writer.start()
      try batches.foreach { rows =>
        mem.addData(rows: _*); q.processAllAvailable()
      } finally q.stop()
    }
    // session 1 folds batch 0 (new content D), then dies
    runStream(Seq(Seq(Row(10L, D))))
    // RESTART: no resident state existed, so recovery is just "open
    // the tables" — no corpus argument, nothing re-signed. The
    // crash-window redelivery of batch 0 under its own id, then new
    // batch 1 whose content near-dups the SESSION-1 fold: the edge
    // comes from the at-rest tables batch 0 landed in
    runStream(Seq(Seq(Row(10L, D)), Seq(Row(20L, D))))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = asMap(ClusterIndex.open(spark, clusterPath))
    assert(got == Map(1L -> 1L, 2L -> 2L, 10L -> 10L, 20L -> 10L),
      s"cross-SESSION near-dup must merge: $got")
    assert(ClusterIndex.open(spark, clusterPath).count() == 4L,
      "the replayed batch must not duplicate rows across the restart")
    assert(got == asMap(resolveAll(corpus.unionByName(
      Seq((10L, D), (20L, D)).toDF("doc_id", "text")))))
    // the replayed batch overwrote its own store partitions too
    assert(DocStore.open(spark, docsPath).count() == 4L)
    assert(SignatureIndex.open(spark, sigPath).count() == 4L)
    ClusterIndex.delete(spark, root)
  }

  test("streaming IVF append: probes see each appended batch; ≡ full rewrite") {
    import java.nio.file.Files
    import graft.ann.{IvfIndex, Similarity}
    val sf = "/root/testdata/sf0.001"
    val emb = Tables(spark, sf, "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", 8)
    val corpus = emb.filter(col("vec_id") % 10 < 8)
    val feed = emb.filter(col("vec_id") % 10 >= 8)
      .select("vec_id", "embedding").collect()
    val (b1, b2) = feed.splitAt(feed.length / 2)
    val root = Files.createTempDirectory("graft-ivf-stream").toString + "/idx"
    IvfIndex.write(corpus, "vec_id", "embedding", cents, root)

    val schema = StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    val appended = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = EventTimeOps.ivfAppendStream(mem.toDF(), "vec_id", "embedding",
      cents, root) { (id, n) => appended += ((id, n)) }.start()
    try {
      mem.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(appended.map(_._2) == Seq(b1.length.toLong, b2.length.toLong))

    // after both appends the index answers probes exactly like a full
    // rewrite over corpus ∪ feed
    val rewritten = Files.createTempDirectory("graft-ivf-rewrite").toString + "/idx"
    IvfIndex.write(emb, "vec_id", "embedding", cents, rewritten)
    val queries = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toSeq
    def probed(p: String) = IvfIndex.probe(spark, p, queries,
        "vec_id", "embedding", 2, 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val (a, b) = (probed(root), probed(rewritten))
    assert(a == b && a.nonEmpty)

    // stream RESTART replaying the same data: a fresh stream restarts
    // batch ids at 0, so redelivering b1 (the original batch 0)
    // through a new writer must leave the index unchanged — the
    // at-least-once case the dynamic overwrite exists for. (Restart
    // with DIFFERENT data under a reused id is unrecoverable by
    // design; production streams run with a checkpoint.)
    val mem2 = MemoryStream[Row](enc, spark)
    val q2 = EventTimeOps.ivfAppendStream(mem2.toDF(), "vec_id", "embedding",
      cents, root) { (_, _) => }.start()
    try {
      mem2.addData(b1.toIndexedSeq: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(s"$root/corpus").count() == emb.count(),
      "replayed stream batch must not duplicate rows")
    assert(probed(root) == a, "replayed stream batch must not change probes")
  }

  test("ivfAppendStream compactEvery folds settled batches, bounds partitions") {
    import java.nio.file.Files
    import graft.ann.{IvfIndex, Similarity}
    val sf = "/root/testdata/sf0.001"
    val emb = Tables(spark, sf, "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", 8)
    val corpus = emb.filter(col("vec_id") % 10 < 8)
    val slices = (0 to 3).map(k => emb
      .filter(col("vec_id") % 10 >= 8 && col("vec_id") % 4 === k)
      .select("vec_id", "embedding").collect().toSeq)
    assert(slices.forall(_.nonEmpty))
    val root = Files.createTempDirectory("graft-ivf-ce").toString + "/idx"
    try {
      IvfIndex.write(corpus, "vec_id", "embedding", cents, root)
      val schema = StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>")
      implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
      val mem = MemoryStream[Row](enc, spark)
      val q = EventTimeOps.ivfAppendStream(mem.toDF(), "vec_id", "embedding",
        cents, root, compactEvery = Some(1)) { (_, _) => }.start()
      try {
        slices.foreach { s => mem.addData(s: _*); q.processAllAvailable() }
      } finally q.stop()
      // the dial held: every settled batch folded into the base, only
      // the newest (still-replayable) batch keeps its own partitions
      assert(IvfIndex.appendBatchCount(spark, root) == 1)
      assert(spark.read.parquet(s"$root/corpus").count() == emb.count())
      // and the maintained index answers exactly like a full rewrite
      val rewritten = Files.createTempDirectory("graft-ivf-ce").toString + "/rw"
      try {
        IvfIndex.write(emb, "vec_id", "embedding", cents, rewritten)
        val queries = emb.filter(col("vec_id") < 4).orderBy("vec_id")
          .select("vec_id", "embedding").collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
          .toSeq
        def probed(p: String) = IvfIndex.probe(spark, p, queries,
            "vec_id", "embedding", 2, 5)
          .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
        assert(probed(root) == probed(rewritten) && probed(root).nonEmpty)
      } finally IvfIndex.delete(spark, rewritten)
    } finally IvfIndex.delete(spark, root)
  }

  test("drift-triggered retrain-and-swap: gate fires once, then re-arms") {
    import java.nio.file.Files
    import java.util.concurrent.atomic.AtomicReference
    import graft.ann.{IvfIndex, Similarity}
    import graft.pipeline.DriftGate
    val sf = "/root/testdata/sf0.001"
    val emb = Tables(spark, sf, "embeddings")
    val corpus = emb.filter(col("vec_id") < 50).select("vec_id", "embedding")
    val root = Files.createTempDirectory("graft-ivf-maintain").toString
    val initPath = s"$root/v_init"
    val cents0 = Similarity.trainCentroids(corpus, "vec_id", "embedding", 4)
    IvfIndex.write(corpus, "vec_id", "embedding", cents0, initPath)
    val (prof0, rel0) = DriftGate.embeddingProfile(
      spark.read.parquet(s"$initPath/corpus"), "embedding")
    val handle = new AtomicReference(
      IvfIndex.Resident(initPath, cents0, prof0, rel0))

    // feed batches: in-distribution (append), SHIFTED encoder output
    // (+2.0 per dim — retrain), more of the shifted distribution
    // (append again: the swapped profile has absorbed the shift)
    def vecsOf(df: org.apache.spark.sql.DataFrame): Seq[Row] =
      df.select("vec_id", "embedding").collect().toSeq
    val b1 = vecsOf(emb.filter(col("vec_id") >= 50 && col("vec_id") < 100))
    def shifted(lo: Int, hi: Int, idOff: Long): Seq[Row] = vecsOf(
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi).select(
        (col("vec_id") + lit(idOff)).as("vec_id"),
        transform(col("embedding"), v => v + lit(2.0f)).as("embedding")))
    val b2 = shifted(100, 500, 10000L)
    val b3 = shifted(100, 200, 20000L)

    val schema = StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    val log = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, String)]
    val q = EventTimeOps.persistedBatches(mem.toDF()) { (batch, batchId) =>
      EventTimeOps.ivfMaintainOnce(batch, batchId, "vec_id", "embedding",
        handle, driftThreshold = 0.5, pathForVersion = b => s"$root/v$b",
        k = 4, refineIters = 1, retainIn = None,
        onBatch = (id, d, a) => { log += ((id, d, a)); () })
    }.start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()

    assert(log.map(_._3) == Seq("append", "retrain", "append"),
      s"actions were ${log.toSeq}")
    assert(log(0)._2 < 0.5 && log(1)._2 >= 0.5 && log(2)._2 < 0.5,
      s"drift trajectory was ${log.map(_._2)}")
    // the swap happened: new versioned path serves, the old is retired
    val cur = handle.get()
    assert(cur.path == s"$root/v1", s"served path is ${cur.path}")
    assert(!new java.io.File(initPath).exists(),
      "old index version must be retired after the swap")
    assert(IvfIndex.isComplete(spark, cur.path))
    // nothing was lost across append → retrain → append
    assert(spark.read.parquet(s"${cur.path}/corpus").count() ==
      (50 + b1.length + b2.length + b3.length).toLong)
    // probes answer through the swap: a drifted vector finds itself
    val probeVec = b2.head
    val got = IvfIndex.probeResident(spark, cur.path, cur.centroids,
      Seq((probeVec.getLong(0),
        probeVec.getSeq[Float](1).map(_.toDouble).toArray)),
      "vec_id", "embedding", nprobe = 2, k = 1)
      .select("neighbor_id").collect().map(_.getLong(0)).toSeq
    // b3 re-ships source vectors 100-199 under new ids, so the probe
    // vector has an exact twin — either copy is a cosine-1.0 answer
    assert(got.length == 1 &&
      Set(probeVec.getLong(0), probeVec.getLong(0) + 10000L)(got.head),
      s"drifted vector's nearest neighbor should be itself or its twin, got $got")
    // at-least-once REPLAY of the RETRAIN batch after the swap
    // committed (crash between handle.set and the checkpoint): the
    // swapped profile absorbed the shift, so the redelivered batch
    // measures in-distribution, takes the append branch, and
    // overwrites its own partitions — the corpus must not grow,
    // which holds only because the retrain kept the batch OUT of the
    // new base
    val b2df = spark.createDataFrame(
      spark.sparkContext.parallelize(b2), schema)
    val total = spark.read.parquet(s"${cur.path}/corpus").count()
    assert(DriftGate.embeddingDist(cur.profile, b2df, "embedding") < 0.5,
      "replayed retrain batch must measure in-distribution post-swap")
    IvfIndex.append(b2df, "vec_id", "embedding", cur.centroids, cur.path, 1L)
    assert(spark.read.parquet(s"${cur.path}/corpus").count() == total,
      "post-swap replay of the retrain batch must not duplicate rows")
    // the OTHER post-swap replay window: the new profile did NOT
    // absorb the shift (small batch vs huge corpus), so the replayed
    // batch still measures over threshold — the keyed-path guard must
    // re-land its partitions instead of retraining the live index
    // onto itself (threshold 0 forces every batch over the gate)
    val replayLog = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, String)]
    EventTimeOps.ivfMaintainOnce(b2df, 1L, "vec_id", "embedding", handle,
      driftThreshold = 0.0, pathForVersion = b => s"$root/v$b",
      k = 4, refineIters = 1, retainIn = None,
      onBatch = (id, d, a) => { replayLog += ((id, d, a)); () })
    assert(replayLog.map(_._3) == Seq("retrain-replay"),
      s"keyed-path guard did not catch the replay: $replayLog")
    assert(handle.get().path == s"$root/v1",
      "guarded replay must not swap the served version")
    assert(spark.read.parquet(s"${cur.path}/corpus").count() == total,
      "guarded replay must not change the corpus")
    // a FIRST delivery that merely collides with the served path (a
    // bootstrap index built inside pathForVersion's range) is NOT a
    // replay: builtBy distinguishes them, and the retrain branch
    // fails fast instead of writing over the index it is reading
    val bootstrap = new AtomicReference(IvfIndex.Resident(
      s"$root/v9", cur.centroids, cur.profile, () => ()))
    intercept[IllegalArgumentException] {
      EventTimeOps.ivfMaintainOnce(b2df, 9L, "vec_id", "embedding",
        bootstrap, driftThreshold = 0.0, pathForVersion = b => s"$root/v$b",
        k = 4, refineIters = 1, retainIn = None, onBatch = (_, _, _) => ())
    }
    // RETRACTION THROUGH THE RETRAIN: a doc retracted from the served
    // index must not be baked into the next version — the rebuild
    // reads the post-retraction truth, and the tombstone that guarded
    // the doc retires with the superseded path, not before
    val deadId = probeVec.getLong(0)
    // dated at the append clock's watermark (the stream's batch 2
    // landed last on v1)
    IvfIndex.retract(spark, handle.get().path,
      spark.createDataFrame(Seq(Tuple1(deadId))).toDF("vec_id"),
      "vec_id", 2L)
    assert(IvfIndex.probeResident(spark, handle.get().path,
      handle.get().centroids,
      Seq((probeVec.getLong(0),
        probeVec.getSeq[Float](1).map(_.toDouble).toArray)),
      "vec_id", "embedding", nprobe = 2, k = 5)
      .where(col("neighbor_id") === deadId).count() == 0L,
      "the served index must stop returning the retracted doc at once")
    val preRetrain = spark.read.parquet(s"${handle.get().path}/corpus")
      .count()
    val b4df = spark.createDataFrame(
      spark.sparkContext.parallelize(shifted(200, 300, 30000L)), schema)
    EventTimeOps.ivfMaintainOnce(b4df, 3L, "vec_id", "embedding", handle,
      driftThreshold = 0.0, pathForVersion = b => s"$root/v$b",
      k = 4, refineIters = 1, retainIn = None, onBatch = (_, _, _) => ())
    val v2 = handle.get()
    assert(v2.path == s"$root/v3", s"retrain must swap, got ${v2.path}")
    assert(spark.read.parquet(s"${v2.path}/corpus")
      .where(col("vec_id") === deadId).count() == 0L,
      "a retracted doc must not be baked into the retrained version")
    assert(spark.read.parquet(s"${v2.path}/corpus").count() ==
      preRetrain - 1L + b4df.count(),
      "the retrained version holds the filtered standing set + batch")
    assert(!new java.io.File(s"${v2.path}/tombs").exists(),
      "the rebuilt version needs no tombstones — it IS the truth")
    v2.releaseProfile()
    IvfIndex.delete(spark, v2.path)
  }

  test("retained-versions maintenance: superseded indexes stand until keep-N prunes them") {
    import java.nio.file.Files
    import java.util.concurrent.atomic.AtomicReference
    import graft.ann.{IvfIndex, Similarity}
    import graft.pipeline.DriftGate
    val sf = "/root/testdata/sf0.001"
    val emb = Tables(spark, sf, "embeddings")
    val corpus = emb.filter(col("vec_id") < 50).select("vec_id", "embedding")
    val base = Files.createTempDirectory("graft-ivf-retain").toString
    def vPath(b: Long) = IvfIndex.snapshotPath(base, s"v$b")
    val boot = IvfIndex.snapshotPath(base, "boot")
    val cents0 = Similarity.trainCentroids(corpus, "vec_id", "embedding", 4)
    IvfIndex.write(corpus, "vec_id", "embedding", cents0, boot)
    val (prof0, rel0) = DriftGate.embeddingProfile(
      spark.read.parquet(s"$boot/corpus"), "embedding")
    val handle = new AtomicReference(
      IvfIndex.Resident(boot, cents0, prof0, rel0))
    def batchAt(idOff: Long) = emb
      .filter(col("vec_id") >= 50 && col("vec_id") < 80)
      .select((col("vec_id") + lit(idOff)).as("vec_id"), col("embedding"))
    def maintain(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      EventTimeOps.ivfMaintainOnce(df, id, "vec_id", "embedding", handle,
        driftThreshold = 0.0, pathForVersion = vPath, // every batch retrains
        k = 4, refineIters = 1, retainIn = Some((base, 2)),
        onBatch = (_, _, _) => ())

    maintain(batchAt(1000L), 1L)
    // the swap happened, but the SUPERSEDED version still stands —
    // a prober that resolved the handle pre-swap finishes against a
    // complete index instead of racing a delete
    assert(handle.get().path == vPath(1L))
    assert(IvfIndex.isComplete(spark, boot),
      "keep-2 must retain the superseded bootstrap index")
    assert(spark.read.parquet(s"$boot/corpus").count() == 50L)

    maintain(batchAt(2000L), 3L)
    // a second retrain ages the bootstrap out of keep-2; the
    // immediately-prior version (what in-flight probers may hold)
    // is still complete
    assert(handle.get().path == vPath(3L))
    assert(!new java.io.File(boot).exists(), "bootstrap must age out")
    assert(IvfIndex.isComplete(spark, vPath(1L)))
    assert(IvfIndex.isComplete(spark, vPath(3L)))
    handle.get().releaseProfile()
    org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    ()
  }

  test("streaming funnel emits per-user summaries after idle timeout") {
    import spark.implicits._
    import graft.streaming.EventTimeOps.{FunnelInput, FunnelOut}
    val mem = MemoryStream[FunnelInput](spark)
    // 10-minute watermark: the deliberately-late view below must be
    // late-but-WITHIN-watermark (a tighter delay would drop it before
    // the stateful operator and t1 would stay at the on-time view)
    val q = EventTimeOps.funnel(mem.toDS(),
      Seq("view", "click", "purchase"), idleMs = 5 * 60 * 1000L, "10 minutes")
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1 completes all 3 stages; user 2 stops after click; user 3
      // clicks WITHOUT a view (no funnel entry); user 1's purchase
      // arrives before a LATE view that precedes everything — the late
      // event must not change completion but does set t1
      mem.addData(
        FunnelInput(1L, ts(2), "view"), FunnelInput(1L, ts(4), "click"),
        FunnelInput(1L, ts(5), "purchase"),
        FunnelInput(2L, ts(1), "view"), FunnelInput(2L, ts(3), "click"),
        FunnelInput(3L, ts(2), "click"))
      q.processAllAvailable()
      mem.addData(FunnelInput(1L, ts(1), "view")) // late, earlier view
      q.processAllAvailable()
      // advance event time far ahead → all users idle out and emit
      mem.addData(FunnelInput(9L, ts(55), "view"))
      q.processAllAvailable()
      mem.addData(FunnelInput(9L, ts(59), "click"))
      q.processAllAvailable()
      val got = spark.table("funnel_stream").as[FunnelOut].collect()
        .map(f => f.user_id -> ((f.t1, f.t2, f.t3, f.stages))).toMap
      def ms(minute: Int): Long = ts(minute).getTime
      assert(got(1L) == ((Some(ms(1)), Some(ms(4)), Some(ms(5)), 3)))
      assert(got(2L) == ((Some(ms(1)), Some(ms(3)), None, 2)))
      assert(!got.contains(3L), "click without view must not enter the funnel")
    } finally q.stop()
  }

  test("funnel survives a non-stage-only batch for a user whose idle horizon passed") {
    import spark.implicits._
    import graft.streaming.EventTimeOps.{FunnelInput, FunnelOut}
    val mem = MemoryStream[FunnelInput](spark)
    val q = EventTimeOps.funnel(mem.toDS(),
      Seq("view", "click", "purchase"), idleMs = 5 * 60 * 1000L, "10 minutes")
      .writeStream.format("memory").queryName("funnel_clamp")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1 buffers a view; its idle deadline is ts(2)+5min = 10:07
      mem.addData(FunnelInput(1L, ts(2), "view"))
      q.processAllAvailable()
      // push the watermark (10:50 − 10min = 10:40) far past that deadline
      mem.addData(FunnelInput(9L, ts(50), "view"))
      q.processAllAvailable()
      // now user 1 gets ONLY a non-stage event: fresh is empty, lastTs
      // stays 10:02, and re-arming at lastTs+idleMs would sit below the
      // 10:40 watermark — without the clamp this batch kills the query
      mem.addData(FunnelInput(1L, ts(50), "scroll"))
      q.processAllAvailable()
      // two flush batches so the clamped timeout (wm+1ms) actually fires
      mem.addData(FunnelInput(8L, ts(55), "view"))
      q.processAllAvailable()
      mem.addData(FunnelInput(8L, ts(59), "view"))
      q.processAllAvailable()
      assert(q.isActive, "query must survive the non-stage-only batch")
      val got = spark.table("funnel_clamp").as[FunnelOut].collect()
        .map(f => f.user_id -> f.stages).toMap
      assert(got.get(1L).contains(1), s"user 1 must emit its 1-stage funnel: $got")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join on the same data") {
    val lSchema = StructType.fromDDL("lts TIMESTAMP, lk BIGINT, imp_id BIGINT")
    val rSchema = StructType.fromDDL("rts TIMESTAMP, rk BIGINT, conv_id BIGINT")
    implicit val lEnc: ExpressionEncoder[Row] = ExpressionEncoder(lSchema)
    implicit val rEnc: ExpressionEncoder[Row] = ExpressionEncoder(rSchema)
    val lMem = MemoryStream[Row](lEnc, spark)
    val rMem = MemoryStream[Row](rEnc, spark)
    // conversions (left) pick up impressions (right) ≤ 5 min back
    val joined = EventTimeOps.intervalJoin(
      lMem.toDF(), rMem.toDF(), col("lk") === col("rk"),
      "lts", "rts", "5 minutes", "10 minutes")
    val q = joined.select("imp_id", "conv_id")
      .writeStream.format("memory").queryName("ivj")
      .outputMode(OutputMode.Append).start()
    val lRows = Seq(Row(ts(6), 1L, 10L), Row(ts(9), 1L, 11L), Row(ts(8), 2L, 12L))
    val rRows = Seq(Row(ts(2), 1L, 20L), Row(ts(5), 1L, 21L), Row(ts(7), 2L, 22L),
      Row(ts(8), 3L, 23L))
    try {
      lMem.addData(lRows: _*); rMem.addData(rRows: _*)
      q.processAllAvailable()
      val got = spark.table("ivj").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // imp 10 @6: within 5 min sees conv 20@2? no (6-5=1 ≤ 2 ≤ 6 yes) and 21@5
      val batch = {
        val l = spark.createDataFrame(spark.sparkContext.parallelize(lRows), lSchema)
        val r = spark.createDataFrame(spark.sparkContext.parallelize(rRows), rSchema)
        l.join(r, col("lk") === col("rk") &&
            col("rts") >= col("lts") - expr("INTERVAL 5 minutes") &&
            col("rts") <= col("lts"))
          .select("imp_id", "conv_id").collect()
          .map(r2 => (r2.getLong(0), r2.getLong(1))).toSet
      }
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got.contains((10L, 20L)) && got.contains((10L, 21L)))
      assert(got.contains((12L, 22L)) && !got.exists(_._2 == 23L))
    } finally q.stop()
  }
}
