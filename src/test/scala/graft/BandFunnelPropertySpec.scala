package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.Similarity
import graft.dedup.{Dedup, SignatureIndex}

/**
 * Model-based pin of the banded funnels' candidate rule: every LSH
 * funnel emits a colliding pair of rows once, at the lowest band whose
 * keys the two sides share ([[Dedup.isFirstSharedBand]]), and verifies
 * the payload riding with its band rows in place. Seeded random frames
 * for each funnel kind — MinHash signature, SimHash fingerprint,
 * hyperplane-LSH vector — in self-join and probe form, with pairs
 * planted to collide in exactly 1, 2 and all bands plus degenerate
 * docs (null signatures, null fingerprints, null and zero vectors),
 * must give exactly the rows (as multisets) of the REFERENCE
 * formulation kept here: candidate pairs collapsed by a `distinct`,
 * then verified through join-backs by id. Ids are unique in those
 * inputs; what a repeated id produces is pinned in its own test.
 */
class BandFunnelPropertySpec extends SparkSpec {

  private val Src = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertSame(what: String, got: DataFrame, want: DataFrame): Unit = {
    val (g, w) = (rows(got), rows(want))
    assert(g == w, s"$what diverged from the reference:\n" +
      s"only-new=${g.diff(w)}\nonly-reference=${w.diff(g)}")
  }

  /** How many bands each (a, b) pair shares, keys per side given. */
  private def sharedCounts[K](a: Seq[Seq[K]], b: Seq[Seq[K]],
      self: Boolean): Set[Int] =
    (for {
      (x, i) <- a.zipWithIndex
      (y, j) <- b.zipWithIndex
      if !self || i < j
    } yield x.zip(y).count { case (p, q) => p == q }).toSet

  private def plantedSizes(bands: Int): Seq[Int] = Seq(1, 2, bands)

  // ------------------------------------------------------------ MinHash
  private val R = Dedup.BandRows
  private val NB = Dedup.numBands

  private val docSchema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType),
    StructField("sig", ArrayType(StringType, containsNull = true))))

  private def text(rnd: Random): String =
    Seq.fill(4 + rnd.nextInt(5))(s"w${rnd.nextInt(8)}").mkString(" ")

  /** Fresh signatures draw from a 3-letter alphabet, so unplanted
    * bands collide by chance too; a planted doc copies the rows of
    * `shared` bands of its source (always a fresh doc) and writes
    * "x"/"y" — values no fresh doc holds — everywhere else, so it
    * shares EXACTLY those bands with the source. Its text edits at
    * most one token, spreading the verify's Jaccard. */
  private def minhashDocs(rnd: Random, ids: Seq[Long],
      sources: Seq[(String, Seq[String])]): Seq[(Long, String, Seq[String])] = {
    val fresh = () => (text(rnd), Seq.fill(Dedup.NumHashes)("abc"(rnd.nextInt(3)).toString))
    def plant(src: (String, Seq[String]), shared: Int) = {
      val keep = rnd.shuffle((0 until NB).toList).take(shared).toSet
      val toks = src._1.split(" ")
      if (rnd.nextBoolean()) toks(rnd.nextInt(toks.length)) = "edit"
      (toks.mkString(" "), src._2.indices.map(i =>
        if (keep(i / R)) src._2(i) else if (rnd.nextBoolean()) "x" else "y"))
    }
    val own = Seq.fill(12)(fresh())
    val pool = if (sources.isEmpty) own else sources
    val planted = plantedSizes(NB).flatMap(k =>
      Seq.fill(4)(plant(pool(rnd.nextInt(pool.size)), k)))
    // degenerate: < 3 tokens signs to all-null; a null signature too
    val degenerate = Seq(("w1 w2", Seq.fill[String](Dedup.NumHashes)(null)),
      ("w3", null))
    val docs = own ++ planted ++ degenerate
    require(ids.size >= docs.size)
    rnd.shuffle(ids).zip(docs).map { case (id, (t, s)) => (id, t, s) }
  }

  private def docFrame(docs: Seq[(Long, String, Seq[String])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map { case (i, t, s) => Row(i, t, s) }, 2), docSchema)

  private def sigFrame(docs: DataFrame, id: String, sh: String): DataFrame =
    docs.select(col("id").as(id), Dedup.shingles(col("text")).as(sh), col("sig"))

  private def bandsOf(s: Seq[String]): Seq[Seq[String]] = s.grouped(R).toSeq

  private def live(docs: Seq[(Long, String, Seq[String])]) =
    docs.filter(d => d._3 != null && d._3.head != null).map(d => bandsOf(d._3))

  // the reference: (id, band_key) rows, candidate distinct, join-backs
  private def refBandRows(sig: DataFrame, id: String): DataFrame =
    sig.filter(element_at(col("sig"), 1).isNotNull)
      .select(col(id), explode(Dedup.bandKeys(col("sig"))).as("band_key"))

  private def refSelfCandidates(sig: DataFrame, id: String): DataFrame = {
    val b = refBandRows(sig, id)
    b.as("x").join(b.as("y"), Seq("band_key"))
      .filter(col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("doc_a"), col(s"y.$id").as("doc_b"))
      .distinct()
  }

  private def refPairs(sig: DataFrame, id: String, sh: String,
      t: Double): DataFrame = {
    val s = sig.select(col(id), col(sh))
    refSelfCandidates(sig, id)
      .join(s.toDF("doc_a", "sh_a"), "doc_a")
      .join(s.toDF("doc_b", "sh_b"), "doc_b")
      .withColumn("jaccard", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= t)
      .select("doc_a", "doc_b", "jaccard")
  }

  private def refEstimate(sig: DataFrame): DataFrame = {
    val matches = (1 to Dedup.NumHashes).map(j =>
      (element_at(col("sig_a"), j) === element_at(col("sig_b"), j))
        .cast("int")).reduce(_ + _)
    refSelfCandidates(sig, "doc_id")
      .join(sig.toDF("doc_a", "sh_a", "sig_a"), "doc_a")
      .join(sig.toDF("doc_b", "sh_b", "sig_b"), "doc_b")
      .withColumn("est", round(matches.cast("double") / Dedup.NumHashes, 6))
      .withColumn("jaccard", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .select(col("doc_a"), col("doc_b"), col("est"), col("jaccard"),
        round(abs(col("est") - col("jaccard")), 6).as("abs_err"))
  }

  private def refProbeCandidates(batchSig: DataFrame, idx: DataFrame): DataFrame =
    refBandRows(batchSig, "batch_id")
      .join(refBandRows(idx, "corpus_id"), "band_key")
      .select("batch_id", "corpus_id").distinct()

  private def refProbe(batchSig: DataFrame, idx: DataFrame, t: Double): DataFrame =
    refProbeCandidates(batchSig, idx)
      .join(batchSig.select("batch_id", "sh_batch"), "batch_id")
      .join(idx.select("corpus_id", "sh_corpus"), "corpus_id")
      .withColumn("jaccard", Dedup.jaccard(col("sh_batch"), col("sh_corpus")))
      .filter(col("jaccard") >= t)
      .select("batch_id", "corpus_id", "jaccard")

  private def refAtRest(batchSig: DataFrame, atRest: DataFrame,
      corpusText: DataFrame, t: Double): DataFrame =
    refProbeCandidates(batchSig,
        atRest.select(col("doc_id").as("corpus_id"), col("sig")))
      .join(batchSig.select("batch_id", "sh_batch"), "batch_id")
      .join(corpusText.select(col("id").as("corpus_id"), col("text")), "corpus_id")
      .withColumn("jaccard",
        Dedup.jaccard(col("sh_batch"), Dedup.shingles(col("text"))))
      .filter(col("jaccard") >= t)
      .select("batch_id", "corpus_id", "jaccard")

  test("MinHash funnels (self-join, estimate, probe, at-rest probe) ≡ the distinct + join-back reference") {
    for (seed <- Seq(20261019L, 7L)) {
      val rnd = new Random(seed)
      val corpusDocs = minhashDocs(rnd, (0L until 40L).map(_ * 3 + 100), Nil)
      val sources = corpusDocs.filter(d => d._3 != null && d._3.head != null &&
        d._3.forall("abc".contains(_))).map(d => (d._2, d._3))
      val batchDocs = minhashDocs(rnd, (0L until 40L).map(_ * 5 + 1000), sources)
      // the generator must actually produce 1-, 2- and all-band pairs
      for (k <- plantedSizes(NB)) {
        assert(sharedCounts(live(corpusDocs), live(corpusDocs), self = true)(k),
          s"seed $seed: no self pair sharing $k bands")
        assert(sharedCounts(live(batchDocs), live(corpusDocs), self = false)(k),
          s"seed $seed: no probe pair sharing $k bands")
      }
      val corpus = docFrame(corpusDocs)
      val batch = docFrame(batchDocs)
      val sig = sigFrame(corpus, "doc_id", "sh").cache()
      val idx = sigFrame(corpus, "corpus_id", "sh_corpus").cache()
      val batchSig = sigFrame(batch, "batch_id", "sh_batch").cache()
      val atRest = corpus.select(col("id").as("doc_id"), col("sig"))
      try {
        for (t <- Seq(0.0, 0.5)) {
          assertSame(s"pairsFromSignatures seed=$seed t=$t",
            Dedup.pairsFromSignatures(sig, "doc_id", "sh", t),
            refPairs(sig, "doc_id", "sh", t))
          assertSame(s"probeFromSignatures seed=$seed t=$t",
            Dedup.probeFromSignatures(batchSig, idx, t), refProbe(batchSig, idx, t))
          assertSame(s"probeAtRestSignatures seed=$seed t=$t",
            Dedup.probeAtRestSignatures(batchSig, atRest, corpus, "id", "text", t),
            refAtRest(batchSig, atRest, corpus, t))
        }
        assertSame(s"minhashEstimateFromSignatures seed=$seed",
          Dedup.minhashEstimateFromSignatures(sig), refEstimate(sig))
        assert(Dedup.pairsFromSignatures(sig, "doc_id", "sh", 0.0).count() > 0 &&
          Dedup.probeFromSignatures(batchSig, idx, 0.0).count() > 0)
      } finally { sig.unpersist(); idx.unpersist(); batchSig.unpersist() }
    }
  }

  // ------------------------------------------------------------ SimHash
  private val SimBands = 6
  private val SimMaxHamming = 5

  private val fpSchema = StructType(Seq(StructField("id", LongType),
    StructField("fp", ArrayType(LongType, containsNull = false))))

  /** Fingerprints assembled from per-band chunks: fresh chunks draw
    * from 0..3 (chance collisions, Hamming spread around the bound); a
    * planted fp copies `shared` chunks of its (fresh) source and flips
    * exactly one bit above bit 1 in every other chunk — no fresh chunk
    * has those bits, so it shares EXACTLY those bands. */
  private def simhashFps(rnd: Random, ids: Seq[Long], words: Int,
      sources: Seq[Seq[Long]]): (Seq[(Long, Seq[Long])], Seq[Seq[Long]]) = {
    val bitsPerBand = 60 * words / SimBands
    val bandsPerWord = 60 / bitsPerBand
    def fp(chunks: Seq[Long]): Seq[Long] = (0 until words).map(w =>
      (0 until bandsPerWord).map(k =>
        chunks(w * bandsPerWord + k) << (k * bitsPerBand)).sum)
    val own = Seq.fill(14)(Seq.fill(SimBands)(rnd.nextInt(4).toLong))
    val pool = if (sources.isEmpty) own else sources
    val planted = plantedSizes(SimBands).flatMap(k => Seq.fill(4) {
      val src = pool(rnd.nextInt(pool.size))
      val keep = rnd.shuffle((0 until SimBands).toList).take(k).toSet
      src.indices.map(j =>
        if (keep(j)) src(j) else src(j) ^ (1L << (2 + rnd.nextInt(2))))
    })
    val chunks = own ++ planted
    val docs = rnd.shuffle(ids).zip(chunks.map(fp) :+ null)
      .map { case (i, f) => (i, f) }
    (docs, chunks)
  }

  private def fpFrame(docs: Seq[(Long, Seq[Long])], id: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map { case (i, f) => Row(i, f) }, 2), fpSchema)
      .select(col("id").as(id), col("fp"))

  private def refHamming(words: Int): Column =
    (1 to words).map(w => bit_count(element_at(col("x.fp"), w)
      .bitwiseXOR(element_at(col("y.fp"), w)))).reduce(_ + _).cast("long")

  private def refSimhashSelf(fps: DataFrame, words: Int): DataFrame = {
    val b = Dedup.simhashBandRowsFromFp(fps, "doc_id", SimMaxHamming, SimBands, words)
    b.as("x").join(b.as("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        refHamming(words).as("hamming"))
      .filter(col("hamming") <= SimMaxHamming)
      .distinct()
  }

  private def refSimhashProbe(batchBands: DataFrame, idx: DataFrame,
      words: Int): DataFrame =
    batchBands.as("x").join(idx.as("y"), Seq("band", "key"))
      .select(col("batch_id"), col("corpus_id"), refHamming(words).as("hamming"))
      .filter(col("hamming") <= SimMaxHamming)
      .distinct()

  test("SimHash funnels (self-join, probe; 1- and 2-word fingerprints) ≡ the distinct reference") {
    val rnd = new Random(20261020L)
    for (words <- Seq(1, 2)) {
      val (corpusFps, corpusChunks) =
        simhashFps(rnd, (0L until 40L).map(_ * 3 + 100), words, Nil)
      val (batchFps, batchChunks) = simhashFps(rnd,
        (0L until 40L).map(_ * 5 + 1000), words, corpusChunks.take(14))
      for (k <- plantedSizes(SimBands)) {
        assert(sharedCounts(corpusChunks, corpusChunks, self = true)(k))
        assert(sharedCounts(batchChunks, corpusChunks, self = false)(k))
      }
      val corpus = fpFrame(corpusFps, "doc_id")
      val self = Dedup.simhashNearDupPairsFromFp(corpus, SimMaxHamming, SimBands, words)
      assertSame(s"simhashNearDupPairsFromFp words=$words", self,
        refSimhashSelf(corpus, words))
      assert(self.count() > 0)
      def bands(docs: Seq[(Long, Seq[Long])], id: String) =
        Dedup.simhashBandRowsFromFp(fpFrame(docs, id), id, SimMaxHamming,
          SimBands, words)
      val (b, idx) = (bands(batchFps, "batch_id"), bands(corpusFps, "corpus_id"))
      val probe = Dedup.simhashBandJoin(b, idx, SimMaxHamming, SimBands, words)
        .select("batch_id", "corpus_id", "hamming")
      assertSame(s"simhashBandJoin probe words=$words", probe,
        refSimhashProbe(b, idx, words))
      assert(probe.count() > 0)
    }
    // the public text faces over real documents, same reference
    val docs = Tables(spark, Src, "documents")
    val (corpusDocs, batchDocs) = (docs.filter(col("doc_id") % 4 =!= 0),
      docs.filter(col("doc_id") % 4 === 0))
    val (idx, release) = Dedup.corpusSimhashIndex(corpusDocs, "doc_id", "text",
      SimMaxHamming, SimBands, 2)
    try {
      val fps = Dedup.simhashFingerprints(docs, "doc_id", "text", "doc_id", 2)
      assertSame("simhashNearDupPairsWide on documents",
        Dedup.simhashNearDupPairsWide(docs, "doc_id", "text", SimMaxHamming,
          SimBands, 2), refSimhashSelf(fps, 2))
      val batchBands = Dedup.simhashBandRowsFromFp(Dedup.simhashFingerprints(
        batchDocs, "doc_id", "text", "batch_id", 2), "batch_id",
        SimMaxHamming, SimBands, 2)
      assertSame("probeSimhashIndex on documents",
        Dedup.probeSimhashIndex(batchDocs, idx, "doc_id", "text",
          SimMaxHamming, SimBands, 2), refSimhashProbe(batchBands, idx, 2))
    } finally release()
  }

  // ------------------------------------------------------ hyperplane LSH
  private val EBands = 3
  private val EPlanes = 2
  private val EDims = 3

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true))))

  /** Low-dimensional Gaussian vectors (4 buckets per band, so random
    * pairs share 0..all bands), positive-scaled noisy copies of the
    * pool, and degenerate rows: a null vector and a zero vector. */
  private def vectors(rnd: Random, ids: Seq[Long],
      pool: Seq[Seq[Float]]): Seq[(Long, Seq[Float])] = {
    val fresh = Seq.fill(40)(Seq.fill(EDims)(rnd.nextGaussian().toFloat))
    val src = if (pool.isEmpty) fresh else pool
    val copies = Seq.fill(15) {
      val s = src(rnd.nextInt(src.size))
      val scale = 0.5f + rnd.nextFloat()
      s.map(f => f * scale + 0.15f * rnd.nextGaussian().toFloat)
    }
    rnd.shuffle(ids).zip(fresh ++ copies ++ Seq(null, Seq.fill(EDims)(0f)))
  }

  private def vecFrame(vs: Seq[(Long, Seq[Float])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vs.map { case (i, v) => Row(i, v) }, 2), vecSchema)

  private def bucketsOf(df: DataFrame): Seq[Seq[Long]] =
    df.filter(col("embedding").isNotNull)
      .select(array((0 until EBands).map(b => Similarity.lshBucket(
        col("embedding"), EPlanes, EDims, b * EPlanes)): _*))
      .collect().map(_.getSeq[Long](0)).toSeq

  private def refEmbedBandRows(df: DataFrame, id: String): DataFrame =
    df.filter(col("embedding").isNotNull)
      .select(col("vec_id").as(id), col("embedding").as("v"),
        posexplode(array((0 until EBands).map(b => Similarity.lshBucket(
          col("embedding"), EPlanes, EDims, b * EPlanes)): _*))
          .as(Seq("band", "bucket")))

  private def refBanded(df: DataFrame, t: Double): DataFrame = {
    val base = df.select(col("vec_id").as("id"), col("embedding").as("v"))
    val buckets = base.select(col("id"),
      posexplode(array((0 until EBands).map(b =>
        Similarity.lshBucket(col("v"), EPlanes, EDims, b * EPlanes)): _*))
        .as(Seq("band", "bucket")))
    buckets.as("x").join(buckets.as("y"), Seq("band", "bucket"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
      .join(base.toDF("id_a", "va"), "id_a")
      .join(base.toDF("id_b", "vb"), "id_b")
      .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cos") >= t)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  private def refEmbedProbe(batch: DataFrame, corpus: DataFrame,
      t: Double): DataFrame =
    refEmbedBandRows(batch, "batch_id").as("x")
      .join(refEmbedBandRows(corpus, "corpus_id").as("y"), Seq("band", "bucket"))
      .withColumn("cos", Similarity.cosine(col("x.v"), col("y.v")))
      .filter(col("cos") >= t)
      .select(col("batch_id"), col("corpus_id"), round(col("cos"), 6).as("cos"))
      .distinct()

  test("hyperplane-LSH funnels (banded self-join, index probe) ≡ the distinct + join-back reference") {
    val rnd = new Random(20261021L)
    val corpusVs = vectors(rnd, (0L until 57L).map(_ * 3 + 100), Nil)
    val batchVs = vectors(rnd, (0L until 57L).map(_ * 5 + 1000),
      corpusVs.map(_._2).filter(_ != null))
    val (corpus, batch) = (vecFrame(corpusVs), vecFrame(batchVs))
    val (cb, bb) = (bucketsOf(corpus), bucketsOf(batch))
    for (k <- plantedSizes(EBands)) {
      assert(sharedCounts(cb, cb, self = true)(k), s"no self pair sharing $k bands")
      assert(sharedCounts(bb, cb, self = false)(k), s"no probe pair sharing $k bands")
    }
    val (idx, release) = Similarity.corpusEmbedIndex(corpus, "vec_id",
      "embedding", EBands, EPlanes, EDims)
    try {
      for (t <- Seq(0.01, 0.5)) {
        val banded = Similarity.bandedNearDupPairs(corpus, "vec_id", "embedding",
          EBands, EPlanes, EDims, t)
        assertSame(s"bandedNearDupPairs t=$t", banded, refBanded(corpus, t))
        assert(banded.count() > 0)
        val probe = Similarity.probeEmbedIndex(batch, idx, "vec_id", "embedding",
          EBands, EPlanes, EDims, t)
        assertSame(s"probeEmbedIndex t=$t", probe, refEmbedProbe(batch, corpus, t))
        assert(probe.count() > 0)
      }
      // at a threshold a zero cosine reaches, the one difference: a
      // null vector pairs with nothing (the band rows drop it), where
      // the reference bucketed it into every band's bucket 0
      val nullId = corpusVs.collectFirst { case (i, null) => i }.get
      val all = rows(Similarity.bandedNearDupPairs(corpus, "vec_id",
        "embedding", EBands, EPlanes, EDims, -1.0))
      val ref = rows(refBanded(corpus, -1.0))
      val involvesNull = (r: String) => r.split('|').take(2).contains(nullId.toString)
      assert(ref.exists(involvesNull), "fixture: the null vector must collide")
      assert(all == ref.filterNot(involvesNull))
      assertSame("probeEmbedIndex t=-1", Similarity.probeEmbedIndex(batch, idx,
        "vec_id", "embedding", EBands, EPlanes, EDims, -1.0),
        refEmbedProbe(batch, corpus, -1.0))
    } finally release()
  }

  // ------------------------------------------------------- repeated ids
  test("a repeated id is just another row: one output row per colliding pair of rows") {
    // MinHash: doc 7 twice. Copy A shares every band with doc 9, copy
    // B none, and both carry doc 9's text (Jaccard 1). The reference
    // candidate (7, 9) joined back EVERY copy of 7; the rule verifies
    // only the copy that collides.
    val s9 = Seq("a", "a", "b", "b", "c", "c", "a", "b")
    val t9 = "w1 w2 w3 w4 w5"
    val docs = docFrame(Seq((9L, t9, s9), (7L, t9, s9),
      (7L, t9, Seq.fill(Dedup.NumHashes)("x")), (3L, "w6 w7 w8 w9", s9.reverse)))
    val sig = sigFrame(docs, "doc_id", "sh")
    assert(rows(Dedup.pairsFromSignatures(sig, "doc_id", "sh", 0.5)) ==
      Seq("7|9|1.0"))
    assert(rows(refPairs(sig, "doc_id", "sh", 0.5)) == Seq("7|9|1.0", "7|9|1.0"))
    // identical copies: one row per copy, as the join-back gave
    val twins = docFrame(Seq((9L, t9, s9), (7L, t9, s9), (7L, t9, s9)))
    val twinSig = sigFrame(twins, "doc_id", "sh")
    assertSame("MinHash identical copies",
      Dedup.pairsFromSignatures(twinSig, "doc_id", "sh", 0.5),
      refPairs(twinSig, "doc_id", "sh", 0.5))
    assert(rows(Dedup.pairsFromSignatures(twinSig, "doc_id", "sh", 0.5)) ==
      Seq("7|9|1.0", "7|9|1.0"))

    // SimHash: identical copies of doc 1 each pair with doc 2, where
    // the reference's distinct over (a, b, hamming) kept one row
    val fps = fpFrame(Seq((1L, Seq(5L)), (1L, Seq(5L)), (2L, Seq(7L))), "doc_id")
    assert(rows(Dedup.simhashNearDupPairsFromFp(fps, SimMaxHamming, SimBands, 1)) ==
      Seq("1|2|1", "1|2|1"))
    assert(rows(refSimhashSelf(fps, 1)) == Seq("1|2|1"))

    // embedding probe: a batch id arriving twice with the same vector
    val corpus = vecFrame(Seq((1L, Seq(1f, 0f, 0f)), (2L, Seq(0f, 1f, 0f))))
    val batch = vecFrame(Seq((5L, Seq(2f, 0f, 0f)), (5L, Seq(2f, 0f, 0f))))
    val (idx, release) = Similarity.corpusEmbedIndex(corpus, "vec_id",
      "embedding", EBands, EPlanes, EDims)
    try {
      assert(rows(Similarity.probeEmbedIndex(batch, idx, "vec_id", "embedding",
        EBands, EPlanes, EDims, 0.5)) == Seq("5|1|1.0", "5|1|1.0"))
      assert(rows(refEmbedProbe(batch, corpus, 0.5)) == Seq("5|1|1.0"))
    } finally release()
  }

  test("at-rest signatures folded twice: the scan-shaped probe emits one row per stored copy, the point probe one") {
    val docs = Tables(spark, Src, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    // the batch re-submits three corpus docs verbatim under new ids
    val batch = corpus.orderBy("doc_id").limit(3)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-bandfunnel").toString
    val path = s"$root/sigs"
    val (batchSig, relSig) = Dedup.batchSignatures(batch, "doc_id", "text")
    try {
      SignatureIndex.write(corpus, "doc_id", "text", path)
      def probes() = (
        rows(Dedup.probeAtRestSignatures(batchSig, SignatureIndex.open(spark, path),
          corpus, "doc_id", "text", 0.9)),
        rows(SignatureIndex.probe(batchSig, path, corpus, "doc_id", "text", 0.9)))
      val (scan1, point1) = probes()
      assert(scan1.size >= 3 && scan1 == point1, s"$scan1 vs $point1")
      // the same three corpus docs folded again under a later batch id
      val refolded = corpus.orderBy("doc_id").limit(3)
      val refoldedIds = refolded.collect().map(_.getAs[Long]("doc_id").toString).toSet
      SignatureIndex.foldBatch(path, refolded, "doc_id", "text", 0L)
      val (scan2, point2) = probes()
      assert(point2 == point1, "the point probe collects distinct candidates")
      assert(scan2 == (scan1 ++ scan1.filter(r =>
        refoldedIds(r.split('|')(1)))).sorted,
        s"scan-shaped probe: one row per stored copy, got $scan2")
    } finally {
      relSig()
      SignatureIndex.delete(spark, root)
    }
  }
}
