package graft

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.StructType

import graft.pipeline.DriftGate
import graft.streaming.EventTimeOps

/** The streaming drift gate: TVD endpoints (identical → 0, disjoint
  * → 1), empty-batch contract, and per-batch routing against the
  * standing corpus profile. */
class DriftGateSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq.tabulate(50)(i =>
    if (i % 2 == 0) "alpha beta gamma" else "beta gamma delta").toDF("text")

  test("tvd is 0 for an identically-distributed batch and 1 for disjoint vocab") {
    val (profile, release) = DriftGate.corpusProfile(corpus, "text")
    try {
      assert(DriftGate.tvd(profile, corpus, "text") == 0.0)
      val disjoint = Seq("omega psi", "psi chi omega").toDF("text")
      assert(DriftGate.tvd(profile, disjoint, "text") == 1.0)
      val half = Seq("alpha beta gamma", "omega omega omega").toDF("text")
      val t = DriftGate.tvd(profile, half, "text")
      assert(t > 0.3 && t < 0.8, s"partial drift out of range: $t")
    } finally release()
  }

  test("an empty batch is not drift") {
    val (profile, release) = DriftGate.corpusProfile(corpus, "text")
    try assert(DriftGate.tvd(profile, corpus.limit(0), "text") == 0.0)
    finally release()
  }

  test("capped profile: TVD lower-bounds the true TVD, equals it at full K") {
    // corpus vocab: alpha/beta/gamma/delta (4 tokens); batch shifts
    // mass and adds out-of-vocab tokens, so with K=2 the tail folds
    val batch = Seq("alpha alpha omega", "beta psi omega chi").toDF("text")
    val (full, releaseFull) = DriftGate.corpusProfile(corpus, "text")
    val (capped2, release2) = DriftGate.cappedProfile(corpus, "text", 2)
    val (capped9, release9) = DriftGate.cappedProfile(corpus, "text", 9)
    try {
      // standing state really is K+1 rows, tail mass conserved
      val rows = capped2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows.size == 3 && rows.contains(DriftGate.OtherToken))
      assert(rows.values.sum ==
        full.collect().map(_.getLong(1)).sum, "fold lost mass")

      val t = DriftGate.tvd(full, batch, "text")
      val c2 = DriftGate.cappedTvd(capped2, batch, "text")
      val c9 = DriftGate.cappedTvd(capped9, batch, "text")
      assert(c2 <= t, s"capped TVD $c2 exceeds true TVD $t")
      assert(c2 > 0.0, "folded drift must still alarm")
      // K >= vocab: nothing folds on the corpus side, but the batch's
      // out-of-vocab tokens still collapse into ONE bucket — the
      // coarsening bound, approaching equality as K grows
      assert(c9 <= t && c9 >= c2 - 1e-12, s"monotonicity: c2=$c2 c9=$c9 t=$t")
      // identical batch stays 0 through the fold
      assert(DriftGate.cappedTvd(capped2, corpus, "text") == 0.0)
    } finally { releaseFull(); release2(); release9() }
  }

  test("sketch-selected profile ≡ cappedProfile: same head, same tail, same TVD") {
    // the real-corpus fixture: Zipf-ish token mix where CMS selection
    // must reproduce the exact head despite overcounts
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir, "documents")
    Seq(4, 32).foreach { k =>
      val (exactP, releaseE) = DriftGate.cappedProfile(docs, "text", k)
      val (sketchP, releaseS) = DriftGate.sketchProfile(docs, "text", k)
      try {
        val e = exactP.orderBy("token").collect().map(_.toSeq).toSeq
        val s = sketchP.orderBy("token").collect().map(_.toSeq).toSeq
        // not just the head SET — counts and the folded tail row too,
        // so the sketch-selected profile is a drop-in for cappedTvd
        assert(s == e && s.nonEmpty, s"k=$k profiles differ")
        val batch = docs.limit(20)
        assert(DriftGate.cappedTvd(sketchP, batch, "text") ==
          DriftGate.cappedTvd(exactP, batch, "text"))
      } finally { releaseE(); releaseS() }
    }
  }

  test("embedding drift: identical batch is 0, uniform +1 shift is exactly 1") {
    // quarter-step floats stay exact under +1; per-dim diffs are
    // rounded to 12 dp before the DECIMAL sum, so both endpoints are
    // exact under ANY partial-sum order
    val vecs = Seq.tabulate(20)(i =>
      Array(0.25f * (i % 8), -0.5f * (i % 3), 1.25f)).toSeq
    val corpus = vecs.toDF("embedding")
    val (profile, release) = DriftGate.embeddingProfile(corpus, "embedding")
    try {
      assert(DriftGate.embeddingDist(profile, corpus, "embedding") == 0.0)
      val shifted = vecs.map(_.map(_ + 1.0f)).toDF("embedding")
      assert(DriftGate.embeddingDist(profile, shifted, "embedding") == 1.0)
      assert(DriftGate.embeddingDist(profile, corpus.limit(0), "embedding") == 0.0)
    } finally release()
  }

  test("embedding drift alarms on a dimensionality change") {
    // a batch of truncated (1-dim) vectors with a matching first-dim
    // mean must NOT read as no-drift: the missing dims contribute
    // their full |mean_corpus| displacement
    val vecs = Seq.tabulate(20)(i =>
      Array(0.25f * (i % 8), -0.5f * (i % 3), 1.25f)).toSeq
    val corpus = vecs.toDF("embedding")
    val (profile, release) = DriftGate.embeddingProfile(corpus, "embedding")
    try {
      val truncated = vecs.map(_.take(1)).toDF("embedding")
      val d = DriftGate.embeddingDist(profile, truncated, "embedding")
      // dims 2 and 3 contribute |mean| (0.5·(19·1)/20-ish and 1.25);
      // dim 1 contributes 0 — avg strictly positive
      assert(d > 0.4, s"truncated-vector batch read as no drift: $d")
    } finally release()

    // bootstrap: a profile from an EMPTY corpus is no evidence — every
    // batch would otherwise alarm on day one
    val (emptyProfile, release2) = DriftGate.embeddingProfile(
      corpus.limit(0), "embedding")
    try assert(DriftGate.embeddingDist(emptyProfile, corpus, "embedding") == 0.0)
    finally release2()
  }

  test("streaming gate routes each micro-batch with its distance") {
    val (profile, release) = DriftGate.corpusProfile(corpus, "text")
    val schema = StructType.fromDDL("text STRING")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    val routed = mutable.ArrayBuffer[(Long, Long, Double)]()
    val q = EventTimeOps.persistedBatches(mem.toDF()) { (batch, id) =>
      routed += ((id, batch.count(), DriftGate.tvd(profile, batch, "text")))
    }.start()
    try {
      mem.addData(Row("alpha beta gamma"), Row("beta gamma delta"))
      q.processAllAvailable()
      mem.addData(Row("omega psi chi"))
      q.processAllAvailable()
    } finally { q.stop(); release() }
    assert(routed.size == 2)
    assert(routed(0)._2 == 2L && routed(0)._3 == 0.0) // in-distribution
    assert(routed(1)._2 == 1L && routed(1)._3 == 1.0) // vocabulary flip
  }

  test("capped streaming gate: zero fixpoint holds; disjoint folds to the exact capped bound") {
    // K=2 of a 4-token vocabulary (head beta/gamma, tail alpha/delta →
    // OTHER, each a 1/3 share). An in-distribution batch still reads 0
    // (equal distributions coarsen to equal folds). A DISJOINT batch
    // does NOT read 1 under capping: its whole mass folds into OTHER,
    // which overlaps the corpus tail bucket — capped TVD is exactly
    // ½(1/3 + 1/3 + |1 − 1/3|) = 2/3, strictly below the true TVD of
    // 1, which is precisely the lower-bound contract.
    val (profile, release) = DriftGate.cappedProfile(corpus, "text", 2)
    val schema = StructType.fromDDL("text STRING")
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(schema)
    val mem = MemoryStream[Row](enc, spark)
    val routed = mutable.ArrayBuffer[(Long, Double)]()
    val q = EventTimeOps.persistedBatches(mem.toDF()) { (batch, id) =>
      routed += ((id, DriftGate.cappedTvd(profile, batch, "text")))
    }.start()
    try {
      // the corpus's own distribution (25x alpha/delta, 50x beta/gamma
      // per 50 docs — one clean replica)
      mem.addData(Row("alpha beta gamma"), Row("beta gamma delta"))
      q.processAllAvailable()
      mem.addData(Row("omega psi chi"))
      q.processAllAvailable()
    } finally { q.stop(); release() }
    assert(routed.size == 2)
    assert(routed(0)._2 == 0.0, s"identical batch drifted: ${routed(0)}")
    assert(routed(1)._2 == 600.0 / 900.0,
      s"disjoint batch must fold to exactly 2/3: ${routed(1)}")
  }
}
