package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{ClusterIndex, Clusters, Dedup, DedupQueries, SignatureIndex}

/** The at-rest signature table: probing it must equal probing the
  * session-RAM band index (same candidates, same verdicts), folds
  * must be replay-idempotent and settle-only compactable, and the
  * composed cross-session loop — probe, fold edges, fold signatures,
  * then a LATER session probes the folded content — must work with
  * nothing re-signed. */
class SignatureIndexSpec extends SparkSpec {

  private val Src = "/root/testdata/sf0.001"
  private val T = DedupQueries.IncrementalFuzzyThreshold

  private def fixtureRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-sigidx").toString

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("batch_id", "corpus_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("at-rest probe ≡ the session-RAM index probe, before and after compaction") {
    val docs = Tables(spark, Src, "documents")
    val bucket = graft.text.TextAnalysis.charFingerprint(col("text")) % 100
    val corpus = docs.filter(bucket < 80)
    val batch = docs.filter(bucket >= 80)
    val (corpusIdx, relIdx) = Dedup.corpusNearDupIndex(corpus, "doc_id", "text")
    val (batchSig, relSig) = Dedup.batchSignatures(batch, "doc_id", "text")
    val path = fixtureRoot() + "/sigs"
    try {
      val inRam = pairs(Dedup.probeFromSignatures(batchSig, corpusIdx, T))
      assert(inRam.nonEmpty, "fixture needs cross-probe matches")
      SignatureIndex.write(corpus, "doc_id", "text", path)
      def atRest(s: org.apache.spark.sql.SparkSession) =
        pairs(Dedup.probeAtRestSignatures(batchSig,
          SignatureIndex.open(s, path), corpus, "doc_id", "text", T))
      assert(atRest(spark) == inRam)
      // the PRODUCTION point-read probe: same pairs, same verdicts
      assert(pairs(SignatureIndex.probe(batchSig, path, corpus,
        "doc_id", "text", T)) == inRam)
      // and its above-cap fallback path
      assert(pairs(SignatureIndex.probe(batchSig, path, corpus,
        "doc_id", "text", T, cap = 1)) == inRam)
      // a second session probes the same table — nothing re-signed
      assert(atRest(spark.newSession()) == inRam)
      // folds land batch-sized partitions; replay overwrites its own
      val half = batch.filter(col("doc_id") % 2 === 0)
      SignatureIndex.foldBatch(path, half, "doc_id", "text", 0L)
      val rows = SignatureIndex.open(spark, path).count()
      SignatureIndex.foldBatch(path, half, "doc_id", "text", 0L)
      assert(SignatureIndex.open(spark, path).count() == rows,
        "replayed fold duplicated signature rows")
      // settled-only compaction: fold 0 bakes in, probe unchanged
      assert(SignatureIndex.foldCount(spark, path) == 1)
      assert(SignatureIndex.maintainThrough(spark, path, maxFolds = 1,
        throughBatch = 0L))
      assert(SignatureIndex.foldCount(spark, path) == 0)
      assert(SignatureIndex.open(spark, path).count() == rows)
      // the folded half now answers probes too (it is part of the
      // standing content) — and the original corpus-only pairs are
      // still produced verbatim
      val after = pairs(Dedup.probeAtRestSignatures(batchSig,
        SignatureIndex.open(spark, path),
        corpus.unionByName(half), "doc_id", "text", T))
      assert(inRam.subsetOf(after))
      // point-read probe equality holds across folds + compaction too
      assert(pairs(SignatureIndex.probe(batchSig, path,
        corpus.unionByName(half), "doc_id", "text", T)) == after)
    } finally {
      relIdx(); relSig()
      SignatureIndex.delete(spark, path)
    }
  }

  test("compaction crash between the two table swaps: probes answer identically, recovery completes") {
    import graft.sources.DirSwap
    val docs = Tables(spark, Src, "documents")
    val bucket = graft.text.TextAnalysis.charFingerprint(col("text")) % 100
    val corpus = docs.filter(bucket < 80)
    val batch = docs.filter(bucket >= 80)
    val (batchSig, relSig) = Dedup.batchSignatures(batch, "doc_id", "text")
    val root = fixtureRoot()
    val path = s"$root/sigs"
    try {
      SignatureIndex.write(corpus, "doc_id", "text", path)
      val half = batch.filter(col("doc_id") % 2 === 0)
      SignatureIndex.foldBatch(path, half, "doc_id", "text", 0L)
      val all = corpus.unionByName(half)
      val want = pairs(SignatureIndex.probe(batchSig, path, all,
        "doc_id", "text", T))
      assert(want.nonEmpty, "fixture needs probe matches")
      val rows = SignatureIndex.open(spark, path).count()
      // stage the compaction fully, then crash after the FIRST table's
      // swap: compacted sigs beside pre-compaction bands — the class
      // doc's "either mixed prefix is content-identical", driven
      SignatureIndex.stageCompactThrough(spark, path, 0L)
      DirSwap.commitSwaps(spark, path, Seq("sigs", "bands"), upTo = 1)
      def batchDirs(t: String): Set[String] =
        new java.io.File(s"$path/$t").listFiles()
          .filter(_.isDirectory).filterNot(_.getName.startsWith("."))
          .map(_.getName).toSet
      assert(batchDirs("sigs") == Set("__batch=-1"), "mixed state fixture")
      assert(batchDirs("bands") == Set("__batch=-1", "__batch=0"))
      // before any recovery: candidates come from the pre-compaction
      // band pages, the fallback verifies against the compacted sigs —
      // both compose to the same rows, so every probe face agrees
      assert(pairs(SignatureIndex.probe(batchSig, path, all, "doc_id",
        "text", T)) == want, "point probe diverged in the mixed state")
      assert(pairs(Dedup.probeAtRestSignatures(batchSig,
        SignatureIndex.open(spark, path), all, "doc_id", "text", T)) ==
        want, "scan probe diverged in the mixed state")
      assert(SignatureIndex.open(spark, path).count() == rows)
      // the reader preamble rolls the committed swap forward
      SignatureIndex.recoverSwap(spark, path)
      assert(batchDirs("bands") == Set("__batch=-1"),
        "recovery must finish the committed bands swap")
      assert(SignatureIndex.foldCount(spark, path) == 0)
      assert(pairs(SignatureIndex.probe(batchSig, path, all, "doc_id",
        "text", T)) == want)
      // a re-run compaction converges on the identical visible table
      SignatureIndex.compactThrough(spark, path, 0L)
      assert(pairs(SignatureIndex.probe(batchSig, path, all, "doc_id",
        "text", T)) == want)
      assert(SignatureIndex.open(spark, path).count() == rows)
    } finally {
      relSig()
      SignatureIndex.delete(spark, root)
    }
  }

  test("probe reads are batch-bounded: band and text scans prune to point reads") {
    import graft.sources.{Layout, PointReads}
    // 10k unique-text docs — big enough that a 3-doc probe's pages
    // are a small fraction of the table
    val corpus = spark.range(10000).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(0), lit(7)), i =>
        md5(concat(col("id").cast("string"), lit("_"), i.cast("string")))),
        " ").as("text"))
    val root = fixtureRoot()
    val path = s"$root/sigs"
    val textDir = s"$root/text"
    // the standing text the verify reads: doc_id-sorted parquet, the
    // CuratedCorpus write discipline the probe-read contract names
    Layout.writeRangeSorted(corpus, "doc_id", 16, textDir)
    val corpusText = spark.read.parquet(textDir)
    val dup = corpus.filter(col("doc_id").isin(5L, 9995L))
      .select((col("doc_id") + 20000L).as("doc_id"), col("text"))
    val batch = dup.unionByName(
      spark.range(1).select(lit(30000L).as("doc_id"),
        lit("novel words that match no standing document here")
          .as("text")))
    val (batchSig, relSig) = Dedup.batchSignatures(batch, "doc_id", "text")
    try {
      SignatureIndex.write(corpus, "doc_id", "text", path)
      val got = pairs(SignatureIndex.probe(batchSig, path, corpusText,
        "doc_id", "text", 0.9))
      assert(got.map(p => (p._1, p._2)) == Set((20005L, 5L), (29995L, 9995L)))
      assert(got == pairs(Dedup.probeAtRestSignatures(batchSig,
        SignatureIndex.open(spark, path), corpusText, "doc_id", "text", 0.9)))
      // band-table point read: the probe's candidate scan must emit a
      // small fraction of the table's rows (page-granular skipping on
      // the sorted layout) where a full scan emits all of them
      val bands = SignatureIndex.openBands(spark, path)
      val total = Layout.scanOutputRows(bands.filter(col("doc_id") >= 0))
      val keys = Dedup.bandRows(batchSig)
        .select("band_key").distinct().collect().map(_.getString(0)).toSeq
      val pruned = Layout.scanOutputRows(
        bands.filter(PointReads.keyedFilter(col("band_key"), keys)))
      assert(total == 40000L, s"fixture drifted: $total band rows")
      assert(pruned <= total / 4,
        s"candidate scan read $pruned of $total band rows — not a point read")
      // text point read: the verify touches the candidates' pages only
      val textPruned = Layout.scanOutputRows(corpusText.filter(
        PointReads.keyedFilter(col("doc_id"), Seq(5L, 9995L))))
      assert(textPruned <= 10000L / 4,
        s"verify text scan read $textPruned of 10000 rows — not a point read")
      // the bound must hold inside STANDING FOLD PARTITIONS too: the
      // fold's band files are (__batch, band_key)-sorted by the
      // store's write rule — a fold sorted by band_key alone would
      // have the partitioned writer inject its own UNSTABLE __batch
      // sort and silently defeat page skipping until the next
      // compaction. A fold large enough to hold many pages must add
      // only a page-granular slice of itself to the probe's read.
      val more = spark.range(10000, 30000).select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(7)), i =>
          md5(concat(lit("fold_"), col("id").cast("string"), lit("_"),
            i.cast("string")))), " ").as("text"))
      SignatureIndex.foldBatch(path, more, "doc_id", "text", 0L)
      val bands2 = SignatureIndex.openBands(spark, path)
      val foldRows = 80000L
      val total2 = Layout.scanOutputRows(bands2.filter(col("doc_id") >= 0))
      assert(total2 == total + foldRows, s"fixture drifted: $total2 band rows")
      val pruned2 = Layout.scanOutputRows(
        bands2.filter(PointReads.keyedFilter(col("band_key"), keys)))
      assert(pruned2 - pruned <= foldRows / 4,
        s"the standing fold added ${pruned2 - pruned} rows to the probe's " +
          s"read (fold holds $foldRows) — fold files are not band_key-paged")
    } finally {
      relSig()
      SignatureIndex.delete(spark, root)
    }
  }

  test("cross-session fold loop: a later session sees folded content without re-signing") {
    import spark.implicits._
    val A = "alpha beta gamma delta epsilon zeta eta theta"
    val B = "one two three four five six seven eight"
    val D = "new dog cat fish bird horse cow sheep"
    val corpus = Seq((1L, A), (2L, B)).toDF("doc_id", "text")
    val root = fixtureRoot()
    val sigs = s"$root/sigs"
    val clusters = s"$root/clusters"
    try {
      SignatureIndex.write(corpus, "doc_id", "text", sigs)
      ClusterIndex.write(
        Clusters.resolve(corpus, "doc_id",
          Dedup.nearDupPairs(corpus, "doc_id", "text", 0.9)
            .select("doc_a", "doc_b"), "doc_a", "doc_b")
          .select("doc_id", "cluster"), clusters)
      // SESSION 1: batch 0 brings NEW content D — no matches, folds
      // its docs into the cluster table and its sigs into the index
      val b0 = Seq((10L, D)).toDF("doc_id", "text")
      val (sig0, rel0) = Dedup.batchSignatures(b0, "doc_id", "text")
      val e0 = Dedup.probeAtRestSignatures(sig0,
        SignatureIndex.open(spark, sigs), corpus, "doc_id", "text", 0.9)
      ClusterIndex.foldBatch(clusters, b0, "doc_id",
        e0.select(col("batch_id").as("doc_a"), col("corpus_id").as("doc_b")),
        "doc_a", "doc_b", 0L)
      SignatureIndex.foldBatch(sigs, b0, "doc_id", "text", 0L)
      rel0()

      // SESSION 2 (fresh session, no RAM state): batch 1 duplicates
      // SESSION 1's content. Its match comes from the AT-REST
      // signatures — the standing corpus text is only consulted for
      // the candidate's verify join, nothing is re-signed.
      val s2 = spark.newSession()
      import s2.implicits._
      val standingText = Seq((1L, A), (2L, B), (10L, D))
        .toDF("doc_id", "text")
      val b1 = Seq((20L, D)).toDF("doc_id", "text")
      val (sig1, rel1) = Dedup.batchSignatures(b1, "doc_id", "text")
      val e1 = Dedup.probeAtRestSignatures(sig1,
        SignatureIndex.open(s2, sigs), standingText, "doc_id", "text", 0.9)
      assert(pairs(e1).map(p => (p._1, p._2)) == Set((20L, 10L)),
        "the cross-session near-dup must surface from the at-rest sigs")
      ClusterIndex.foldBatch(clusters, b1, "doc_id",
        e1.select(col("batch_id").as("doc_a"), col("corpus_id").as("doc_b")),
        "doc_a", "doc_b", 1L)
      SignatureIndex.foldBatch(sigs, b1, "doc_id", "text", 1L)
      rel1()
      val got = ClusterIndex.open(s2, clusters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 2L, 10L -> 10L, 20L -> 10L))
    } finally {
      SignatureIndex.delete(spark, sigs)
      ClusterIndex.delete(spark, clusters)
    }
  }
}
