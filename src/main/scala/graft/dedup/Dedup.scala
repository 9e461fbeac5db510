package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/**
 * Deduplication operators for training-data pipelines: exact
 * (hash-groupBy), MinHash signatures, LSH banding with exact n-gram
 * Jaccard verification, and SimHash.
 *
 * Scale design (100 TB corpus):
 *  - Signature computation is a narrow per-document pass — no shuffle.
 *  - LSH banding shuffles band rows carrying the verify payload
 *    (shingle set + signature), never the document text; candidate
 *    generation is a self-join on band_key whose fan-out is bounded by
 *    bucket sizes, each pair kept once ([[isFirstSharedBand]]).
 *  - Exact-Jaccard verification runs in place on CANDIDATE pairs only
 *    — the standard MinHash→LSH→verify funnel.
 *
 * Portability: hashes are md5 hex strings (identical in DuckDB);
 * MinHash = lexicographic MIN over md5 strings, so signatures are
 * engine-independent without any integer-conversion tricks.
 */
object Dedup {

  /** Number of MinHash functions and LSH band layout (4 bands × 2 rows
    * ⇒ catches J ≥ ~0.5 candidates with high probability). */
  val NumHashes = 8
  val BandRows = 2
  def numBands: Int = NumHashes / BandRows

  // ---------------------------------------------------------------- exact
  /** Canonical text form for exact dedup: lower, non-alnum → space, trim. */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** md5 of the canonical form — the exact-dedup grouping key. */
  def exactHash(text: Column): Column = md5(normalizedText(text))

  // ---------------------------------------------------------------- shingles
  import org.apache.spark.sql.graftshim.GraftShims.{column => toCol, expression => toExpr}
  import graft.functions.{MinHashSig, TokenNgrams, TokenShingles}

  /**
   * Distinct 3-token shingles (space-joined), first-occurrence order;
   * docs with < 3 tokens get an empty set. Native expression
   * (graft.functions.TokenShingles) — the HOF formulation is
   * re-inlined ~40×/row by CollapseProject (see TextExprs scaladoc).
   */
  def shingles(text: Column, k: Int = 3): Column =
    toCol(TokenShingles(toExpr(text), k))

  /** Positional k-token n-grams, duplicates kept (one per start
    * position) — the multiset twin of [[shingles]] for span-level
    * duplication accounting (graft.functions.TokenNgrams). */
  def ngrams(text: Column, k: Int): Column =
    toCol(TokenNgrams(toExpr(text), k))

  /** The xor-shift-multiply mixing round of [[shuffleDeal]]'s key —
    * the public-domain 32-bit integer-hash finalizer shape (the
    * murmur3/splitmix family): xor-fold the high bits down, multiply,
    * keep 31 bits. NONLINEAR in its input, which is the property the
    * deal needs: any affine key (an LCG over id+seed) makes the seed
    * a CONSTANT key shift, so shard co-membership barely changes
    * between seeds — two mixing rounds spread a one-bit input change
    * across the word instead. */
  private def mix31(c: Column): Column =
    (c.bitwiseXOR(shiftright(c, 16)) * lit(73244475L)) % lit(2147483648L)

  /**
   * Deterministic SEEDED SHUFFLE + shard deal — the reproducible
   * epoch-0 training order (q_sample_shuffle is the driver-contract
   * face): key = a two-round [[mix31]] hash of (id + seed) — xor-fold
   * the final round too, so the top bits are mixed — shard = the
   * key's HIGH bits (a power-of-two modulus leaves structure in the
   * LOW bits of any multiply-based hash; the high bits carry the
   * avalanche), pos = rank within the shard by (key, id). Reading
   * shards in order, rows by pos, IS the global pseudo-random deal;
   * the same seed reproduces it bit-for-bit, and a NEW seed
   * genuinely re-deals which docs share a shard (TrainingDataSpec
   * asserts a solid majority of membership moves per seed pair —
   * observed ~7/8, the 1−1/shards a uniform re-deal predicts; an
   * affine key moved ~1/5).
   *
   * Scale shape: NO total-order sort — an id-only narrow projection,
   * ONE hash exchange on shard, and per-shard local sorts of
   * corpus/shards rows (the dial that keeps each sort in-memory at
   * any corpus size; size shards to the training reader's file size).
   */
  /** The deal's per-row key as a standalone column: two [[mix31]]
    * rounds over (id + seed), final xor-fold so the top bits are
    * mixed, uniform over [0, 2^31). Shared by [[shuffleDeal]] and
    * [[Sampling.tokenBudgetFill]] so "the deal order" means the SAME
    * order everywhere a seed appears.
    *
    * pmod, not %: Spark's % preserves sign, so a negative doc id or
    * seed (both public API) would yield negative keys silently. pmod
    * lands every input in [0, 2^31) — identical to % for the
    * non-negative ids the harness uses (the oracle mirrors the same
    * ((x % m) + m) % m form). */
  def shuffleKey(id: Column, seed: Long): Column = {
    val m = mix31(mix31(pmod(id + lit(seed), lit(2147483648L))))
    m.bitwiseXOR(shiftright(m, 16))
  }

  /** `carry` columns ride the deal unchanged (same rows, same
    * placement — the key is a function of the id alone): the seam
    * that lets a caller holding per-doc attributes (a release's
    * pre-counted tokens) deal WITHOUT a re-join against its own
    * source — at scale that join is two exchanges and two sorts the
    * carried column makes free. */
  def shuffleDeal(docs: DataFrame, idCol: String, seed: Long,
      shards: Int, carry: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shards > 0 && (shards & (shards - 1)) == 0,
      s"shards must be a positive power of two, got $shards")
    val key = shuffleKey(col(idCol), seed)
    val w = Window.partitionBy(col("shard")).orderBy(col("key"), col(idCol))
    docs.select(col(idCol) +: carry.map(col) :+ key.as("key"): _*)
      .withColumn("shard", expr(s"key div ${2147483648L / shards}"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(Seq(idCol, "shard", "pos", "key") ++ carry map col: _*)
  }

  /**
   * Span-duplication audit (Lee et al. ACL 2022 at n-gram
   * granularity) keyed by a 128-BIT GRAM HASH — the production form
   * of q_dedup_span_coverage: the shuffle rows become fixed-width
   * (two longs + doc id + count) instead of carrying gram STRINGS
   * whose width is unbounded, so shuffle bytes are row-count-
   * proportional at any document length. The 128 bits are two
   * independent xxhash64 views of the gram (the second salted by a
   * distinct-column trick), putting a corpus-wide collision beyond
   * reach (~2^64 grams for a 50% birthday bound) — the same
   * hash-for-identity discipline as [[exactHash]]. Output is
   * identical to the string-keyed audit barring such a collision
   * (the equivalence spec pins this at sf0.01; the ORACLE query stays
   * string-keyed so DuckDB needn't replicate xxhash64).
   */
  def spanCoverageHashed(docs: DataFrame, idCol: String, textCol: String,
      gramLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = docs.select(col(idCol),
        explode(ngrams(col(textCol), gramLen)).as("gram"))
      .select(col(idCol),
        xxhash64(col("gram")).as("g_hi"),
        xxhash64(lit("graft-span-salt"), col("gram")).as("g_lo"))
    val per = grams.groupBy("g_hi", "g_lo", idCol)
      .agg(count(lit(1)).as("cnt"))
    val marked = per.withColumn("n_docs",
      count(lit(1)).over(Window.partitionBy("g_hi", "g_lo")))
    marked.groupBy(idCol).agg(
        sum("cnt").as("n_grams"),
        sum(when(col("n_docs") >= 2, col("cnt")).otherwise(0L))
          .as("dup_grams"))
      .select(col(idCol), col("n_grams"), col("dup_grams"),
        round(col("dup_grams").cast("double") / col("n_grams"), 6)
          .as("dup_frac"))
  }

  // ---------------------------------------------------------------- minhash
  /**
   * MinHash signature: ONE md5 per shingle, sliced into
   * [[NumHashes]] disjoint 4-hex-char (16-bit) chunks — chunk j is
   * hash function j, and the signature component is the lexicographic
   * min of chunk j over the shingle set. Disjoint slices of a single
   * md5 are independent enough for minhashing, and one digest per
   * shingle instead of [[NumHashes]] keeps the signature pass cheap;
   * 16-bit components make band collisions slightly more likely, which
   * only costs extra work in the exact-Jaccard verify step — never
   * correctness. Portable to any engine with md5 (lexicographic min
   * over hex strings). Empty shingle set → nulls.
   */
  def minhashSignature(text: Column, k: Int = 3): Column =
    toCol(MinHashSig(toExpr(text), k, NumHashes))

  /** LSH band key of band `b`: md5 over the band's signature rows
    * (band index prefixed so bands never collide across index). */
  def bandKey(sig: Column, b: Int): Column =
    md5(concat_ws("|", lit(b.toString) +:
      (0 until BandRows).map(r => element_at(sig, b * BandRows + r + 1)): _*))

  /** Every band's [[bandKey]], in band order. */
  def bandKeys(sig: Column): Column =
    array((0 until numBands).map(bandKey(sig, _)): _*)

  /** Exact Jaccard between two distinct-element arrays (native
    * expression — one hash-set pass, see JaccardSim scaladoc). */
  def jaccard(a: Column, b: Column): Column =
    round(toCol(graft.functions.JaccardSim(toExpr(a), toExpr(b))), 6)

  // ------------------------------------------------- LSH banding funnel
  /**
   * Shared signature frame for every banding funnel: one narrow pass
   * computing (id, shingle set, MinHash signature), PERSISTED — every
   * band-join side and every composed consumer of a standing index
   * reads this subtree, and Spark would otherwise recompute the
   * digest pass for each use. Callers own the handle: the `…Managed`
   * funnel variants unpersist it on release.
   */
  private[dedup] def withSignatures(docs: DataFrame, idCol: String,
      textCol: String, idName: String, shName: String = "sh"): DataFrame = docs
    .select(col(idCol).as(idName),
      shingles(col(textCol)).as(shName),
      minhashSignature(col(textCol)).as("sig"))
    .persist()

  /** THE candidate rule of every banded funnel: a pair joined on band
    * `band` is kept only if no LOWER band's keys match too, so it
    * leaves the join once and needs no `distinct`. `a`/`b`: each
    * side's per-band keys, recomputed from the payload riding the band
    * rows — only below `band` (`||` short-circuits). Keys, not the rows
    * they digest, are compared; a null key never matches. */
  private[graft] def isFirstSharedBand(a: Seq[Column], b: Seq[Column],
      band: Column): Column =
    a.indices.map(j =>
      band <= j || coalesce(a(j) =!= b(j), lit(true))).reduce(_ && _)

  /**
   * Exploded band rows of a signature frame — its columns (the verify
   * payload) plus `band` and `band_key` ([[bandKey]]) — with THE
   * degenerate-doc guard: docs with < k tokens have all-null
   * signatures; concat_ws would silently skip the nulls and give EVERY
   * degenerate doc the same band key — one quadratic mega-bucket at
   * corpus scale. They can't be near-dups (empty shingle sets), so
   * they drop before banding — here, ONCE, for every funnel.
   */
  private[graft] def bandRows(sigFrame: DataFrame): DataFrame =
    sigFrame
      .filter(element_at(col("sig"), 1).isNotNull)
      .select(col("*"), posexplode(bandKeys(col("sig"))).as(Seq("band", "band_key")))

  /**
   * THE candidate generator every MinHash funnel funnels through:
   * two [[bandRows]] frames (the same one twice for a self-join),
   * aliased `x`/`y` and equi-joined on the band, each colliding pair
   * of ROWS kept once ([[isFirstSharedBand]]). Ids carry no uniqueness
   * contract: a repeated id pairs once per copy that collides.
   */
  private def bandCandidates(x: DataFrame, y: DataFrame): DataFrame = {
    def keys(side: String) = (0 until numBands).map(bandKey(col(s"$side.sig"), _))
    // band_key implies the band; joining on both names `band` once
    x.as("x").join(y.as("y"), Seq("band", "band_key"))
      .filter(isFirstSharedBand(keys("x"), keys("y"), col("band")))
  }

  /**
   * Full near-dup pipeline: docs(idCol, textCol) → candidate pairs via
   * LSH banding → exact shingle-Jaccard ≥ threshold.
   * Output: (doc_a, doc_b, jaccard), doc_a < doc_b.
   *
   * Persists the signature frame for the session (both band-join
   * sides read it); use [[nearDupPairsManaged]] when iterating over many
   * inputs in one session so the cache is released deterministically
   * instead of by LRU eviction.
   */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    nearDupPairsManaged(docs, idCol, textCol, threshold)._1

  /** [[nearDupPairs]] plus a release handle that unpersists the cached
    * signature frame — call it AFTER materializing (or abandoning) the
    * returned plan; the plan stays valid afterwards, it just
    * recomputes on re-materialization. */
  def nearDupPairsManaged(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): (DataFrame, () => Unit) = {
    val withSig = withSignatures(docs, idCol, textCol, "doc_id")
    (pairsFromSignatures(withSig, "doc_id", "sh", threshold),
      () => { withSig.unpersist(); () })
  }

  /**
   * The WITHIN-set LSH funnel over an ALREADY-BUILT signature frame
   * ([[corpusNearDupIndex]], [[batchSignatures]], or any
   * `withSignatures` output): band-candidate self-join + exact
   * shingle-Jaccard verify, with NO persist of its own. This is how
   * composed queries (incremental cluster maintenance, the ingest
   * funnel) share ONE standing signature cache across every consumer
   * instead of each funnel re-persisting its own copy of the same
   * plan. Output: (doc_a, doc_b, jaccard), doc_a < doc_b in `idName`'s
   * id space.
   */
  def pairsFromSignatures(sig: DataFrame, idName: String, shName: String,
      threshold: Double): DataFrame = {
    val b = bandRows(sig)
    bandCandidates(b, b).filter(col(s"x.$idName") < col(s"y.$idName"))
      .select(col(s"x.$idName").as("doc_a"), col(s"y.$idName").as("doc_b"),
        jaccard(col(s"x.$shName"), col(s"y.$shName")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * MinHash estimator CALIBRATION over the LSH candidate pairs: the
   * signature-agreement estimate (matching components / NumHashes)
   * next to the exact shingle Jaccard and the absolute error — the
   * audit that tells you whether [[NumHashes]] is enough before you
   * trust signature-only similarity at a scale where exact verify is
   * unaffordable. Candidates only (banded), so the quadratic step
   * stays bounded exactly like [[nearDupPairs]]. Returns the
   * signature-frame release handle (same contract as
   * [[nearDupPairsManaged]]).
   */
  def minhashEstimatePairsManaged(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, () => Unit) = {
    val withSig = withSignatures(docs, idCol, textCol, "doc_id")
    (minhashEstimateFromSignatures(withSig),
      () => { withSig.unpersist(); () })
  }

  /** The calibration funnel over an ALREADY-BUILT (doc_id, sh, sig)
    * signature frame, persisting nothing — the shared-index
    * counterpart of [[pairsFromSignatures]], so one cached signature
    * frame serves the near-dup funnel AND this audit. */
  def minhashEstimateFromSignatures(sig: DataFrame): DataFrame = {
    val matches = (1 to NumHashes).map(j =>
      (element_at(col("x.sig"), j) === element_at(col("y.sig"), j))
        .cast("int")).reduce(_ + _)
    val b = bandRows(sig)
    bandCandidates(b, b).filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        round(matches.cast("double") / NumHashes, 6).as("est"),
        jaccard(col("x.sh"), col("y.sh")).as("jaccard"))
      .select(col("doc_a"), col("doc_b"), col("est"), col("jaccard"),
        round(abs(col("est") - col("jaccard")), 6).as("abs_err"))
  }

  /**
   * Exact all-pairs Jaccard ≥ `threshold` within equality blocks,
   * via prefix filtering (Bayardo/Ma/Srikant, "Scaling Up All Pairs
   * Similarity Search", WWW'07; Xiao et al. PPJoin): any pair with
   * J(x,y) ≥ t must share an element among the first
   * `n − ceil(t·n) + 1` elements of EACH set under a shared canonical
   * order. We order tokens by ascending per-block document frequency
   * (ties by token), so the join keys are the RAREST tokens of each
   * document — candidate buckets stay small even when the block is
   * huge, which is what makes this survive a 100× corpus where the
   * naive in-block pairwise join (O(block²)) does not.
   *
   * The filter is EXACT (no false negatives), so the result is
   * identical to the naive pairwise join — the DuckDB oracle keeps
   * the quadratic formulation as the spec.
   *
   * Caching: two intermediates (shingle sets, prefix tokens) persist
   * for the session — each is read by 2-3 downstream joins of the
   * SAME returned plan, and the return is lazy so this function
   * cannot unpersist them itself. Use [[blockedJaccardPairsManaged]]
   * when calling repeatedly over different inputs: its release handle
   * unpersists both once the result is materialized, instead of
   * leaving LRU eviction as the only bound. Callers re-running the
   * SAME input should cache the RESULT (DedupQueries.pairsCache
   * pattern) instead of re-deriving.
   *
   * Output: (blockCols…, doc_a, doc_b, jaccard), doc_a < doc_b.
   */
  def blockedJaccardPairs(docs: DataFrame, blockCols: Seq[String],
      idCol: String, textCol: String, k: Int, threshold: Double): DataFrame =
    blockedJaccardPairsManaged(docs, blockCols, idCol, textCol, k, threshold)._1

  /** [[blockedJaccardPairs]] plus a release handle that unpersists the
    * two cached intermediates — call it AFTER materializing (or
    * abandoning) the returned plan; the plan stays valid afterwards,
    * it just recomputes on re-materialization. */
  def blockedJaccardPairsManaged(docs: DataFrame, blockCols: Seq[String],
      idCol: String, textCol: String, k: Int,
      threshold: Double): (DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    val block = blockCols.map(col)
    // Shingle once; reused by the token explode and both verify
    // join-backs (same persist rationale as withSignatures).
    val d = docs
      .select(block :+ col(idCol).as("doc_id") :+
        shingles(col(textCol), k).as("sh"): _*)
      .withColumn("n", size(col("sh")))
      // Empty shingle sets can't reach any positive Jaccard — and the
      // prefix bound below needs n ≥ 1.
      .filter(col("n") >= 1)
      .persist()
    val toks = d.select(block :+ col("doc_id") :+ col("n") :+
      explode(col("sh")).as("tok"): _*)
    val freq = toks.groupBy(block :+ col("tok"): _*)
      .agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(block :+ col("doc_id"): _*)
      .orderBy(col("df"), col("tok"))
    // ceil(t·n) with an epsilon guard: a last-ulp overshoot of t·n
    // would SHORTEN the prefix and silently drop true pairs; 1e-9
    // dwarfs double error for any realistic n while never crossing
    // the next integer.
    val prefLen = (col("n") + lit(1) -
      ceil(lit(threshold) * col("n") - lit(1e-9))).cast("int")
    // PERSISTED: both sides of the candidate self-join read the prefix
    // set — without the barrier the freq join + per-doc window sort
    // runs twice (observed via explain: the Window subtree appeared on
    // each join side).
    val prefix = toks.join(freq, blockCols :+ "tok")
      .withColumn("r", row_number().over(byDoc))
      .filter(col("r") <= prefLen)
      .select(block :+ col("doc_id") :+ col("n") :+ col("r") :+ col("tok"): _*)
      .persist()
    // Length filter (PPJoin): J ≥ t ⟹ t·max(|x|,|y|) ≤ min(|x|,|y|),
    // so size-incompatible pairs drop before the distinct/verify.
    // Exact like the prefix bound (same 1e-9 guard against an up-
    // rounded t·n excluding a borderline size).
    //
    // POSITIONAL filter (PPJoin's second bound): every shared token of
    // a pair sits at position ≥ r in each doc's global (df, tok) sort,
    // so at the pair's FIRST shared token overlap ≤ 1 + min(n−r_x,
    // n−r_y); J ≥ t needs overlap ≥ t·(n_x+n_y)/(1+t). Rows failing
    // the bound drop BEFORE the distinct — a true pair always survives
    // via its first shared token (where the bound provably holds), but
    // near-dup-dense corpora shed duplicate candidate rows here
    // (measured at the 10× scale smoke: 29.7M join rows → 16.7M and
    // 9.6M distinct candidates → 6.1M, identical output — equivalence-
    // tested against the naive pairwise join in TrainingDataSpec).
    val cand = prefix.as("x").join(prefix.as("y"), blockCols :+ "tok")
      .filter(col("x.doc_id") < col("y.doc_id") &&
        col("y.n") >= lit(threshold) * col("x.n") - lit(1e-9) &&
        col("x.n") >= lit(threshold) * col("y.n") - lit(1e-9) &&
        lit(1) + least(col("x.n") - col("x.r"), col("y.n") - col("y.r")) >=
          lit(threshold / (1 + threshold)) * (col("x.n") + col("y.n")) - lit(1e-9))
      .select(block ++ Seq(col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b")): _*)
      .distinct()
    // Join-back keyed on (blockCols, doc): idCol only needs to be
    // unique WITHIN a block — a doc id reused across blocks (or a doc
    // listed under several blocks) resolves to its own block's shingle
    // set instead of fanning out.
    val sh = d.select(block :+ col("doc_id") :+ col("sh"): _*)
    val out = cand
      .join(sh.toDF(blockCols :+ "doc_a" :+ "sh_a": _*), blockCols :+ "doc_a")
      .join(sh.toDF(blockCols :+ "doc_b" :+ "sh_b": _*), blockCols :+ "doc_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(block ++ Seq(col("doc_a"), col("doc_b"), col("jaccard")): _*)
    (out, () => { d.unpersist(); prefix.unpersist(); () })
  }

  // ---------------------------------------------------------------- simhash
  /**
   * 16-bit SimHash over token hashes: bit j of the fingerprint is the
   * sign of Σ_tokens (2·bit_j(h(token)) − 1), h = charPolyHash mod 2^16.
   * Near-identical docs differ in few bits (Hamming). All-int64 exact
   * arithmetic — portable. Native single-pass codegen expression
   * (graft.functions.SimHash16) — the HOF formulation below runs 16
   * interpreted re-folds of the token-hash array per row.
   */
  def simhash16(text: Column): Column =
    // coalesce: the HOF formulation (and the DuckDB oracle mirroring
    // it) fingerprints NULL text as 0 — `when(null > 0, …).otherwise(0)`
    // per bit — while a null-intolerant UnaryExpression returns NULL
    coalesce(toCol(graft.functions.SimHash16(toExpr(text))), lit(0L))

  /** 60-bit md5-token SimHash (graft.functions.SimHash60) — the
    * bandable fingerprint for [[simhashNearDupPairs]]. NULL text →
    * NULL fingerprint (null-intolerant like every md5 path; null band
    * keys never equi-join, so null-text docs simply pair with
    * nothing). */
  def simhash60(text: Column): Column =
    toCol(graft.functions.SimHash60(toExpr(text)))

  /**
   * SimHash near-dup pairs via banded Hamming join (Manku/Jain/
   * Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07): two
   * docs with Hamming(fp_a, fp_b) ≤ `maxHamming` must agree EXACTLY
   * on at least one of `bands` disjoint bit-bands (pigeonhole —
   * maxHamming < bands flipped bits cannot touch every band), so the
   * candidate set from `bands` equi-joins on (band, key) provably
   * contains every qualifying pair and the bit_count verify makes the
   * result EXACT — identical to the naive quadratic join
   * (equivalence-tested).
   *
   * Scale: candidate cost is O(bands · Σ_key bucket²) with 2^(60/
   * bands) distinct keys per band — 10-bit bands ⇒ uniform buckets of
   * n/1024. That constant (unlike the 16-bit fingerprint's n/16)
   * keeps the join tractable to ~10M docs; past that the dial is
   * [[simhashNearDupPairsWide]] — a wider fingerprint (more bits per
   * band at fixed bands, the Manku f-bit construction), not this
   * operator's parameters.
   */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 5, bands: Int = 6): DataFrame =
    simhashNearDupPairsWide(docs, idCol, textCol, maxHamming, bands, words = 1)

  /** Validated band layout of a 60·words-bit fingerprint: band j's key
    * is bits [shift, shift+bitsPerBand) of word j/bandsPerWord — THE
    * band math, shared by the self-join and probe variants. */
  private def simhashBandKeys(fp: Column, maxHamming: Int, bands: Int,
      words: Int): Seq[Column] = {
    val totalBits = 60 * words
    require(bands > 0 && totalBits % bands == 0,
      s"bands=$bands must divide $totalBits")
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming=$maxHamming < bands=$bands")
    val bitsPerBand = totalBits / bands
    require(60 % bitsPerBand == 0,
      s"bitsPerBand=$bitsPerBand must divide 60 so bands don't straddle words")
    val bandsPerWord = 60 / bitsPerBand
    val mask = (1L << bitsPerBand) - 1
    (0 until bands).map { j =>
      shiftright(element_at(fp, j / bandsPerWord + 1),
        (j % bandsPerWord) * bitsPerBand).bitwiseAND(lit(mask))
    }
  }

  /** The fingerprint pass ALONE — (idName, fp) with fp a
    * `words`-word array — so one md5-per-token pass over the corpus
    * can be persisted and shared across the whole simhash family
    * (pairs, wide pairs, probes). Word `w` reads hex nibbles
    * [15w, 15w+15) of the SAME per-token md5 regardless of `words`
    * (TextNative.simHashWide), so a words=2 frame serves a words=1
    * consumer exactly via `slice(fp, 1, 1)` — pinned in
    * OperatorsSpec. */
  def simhashFingerprints(docs: DataFrame, idCol: String,
      textCol: String, idName: String, words: Int): DataFrame =
    docs.select(col(idCol).as(idName),
      toCol(graft.functions.SimHashWide(toExpr(col(textCol)), words)).as("fp"))

  /** Exploded (id, fp, band, key) rows from a PRECOMPUTED
    * [[simhashFingerprints]] frame — fp rides along (8·words bytes)
    * so the verify needs no join-backs. */
  private[graft] def simhashBandRowsFromFp(fpFrame: DataFrame, idName: String,
      maxHamming: Int, bands: Int, words: Int): DataFrame =
    fpFrame.select(col(idName), col("fp"),
      posexplode(array(
        simhashBandKeys(col("fp"), maxHamming, bands, words): _*))
        .as(Seq("band", "key")))

  private def simhashBandRows(docs: DataFrame, idCol: String,
      textCol: String, idName: String, maxHamming: Int, bands: Int,
      words: Int): DataFrame =
    simhashBandRowsFromFp(
      simhashFingerprints(docs, idCol, textCol, idName, words),
      idName, maxHamming, bands, words)

  /** The banded fingerprint join of the self-join and probe faces:
    * x ⋈ y on (band, key) under [[isFirstSharedBand]] (keys recomputed
    * from x.fp / y.fp), with full-fingerprint `hamming` ≤ `maxHamming`. */
  private[graft] def simhashBandJoin(x: DataFrame, y: DataFrame,
      maxHamming: Int, bands: Int, words: Int): DataFrame = {
    def keys(side: String) =
      simhashBandKeys(col(s"$side.fp"), maxHamming, bands, words)
    x.as("x").join(y.as("y"), Seq("band", "key"))
      .filter(isFirstSharedBand(keys("x"), keys("y"), col("band")))
      .withColumn("hamming", (1 to words).map(w =>
        bit_count(element_at(col("x.fp"), w)
          .bitwiseXOR(element_at(col("y.fp"), w)))).reduce(_ + _).cast("long"))
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * [[simhashNearDupPairs]] with a PARAMETERIZED fingerprint width —
   * the past-10M-docs dial: `words` independent 60-bit fingerprint
   * words (graft.functions.SimHashWide — word 0 ≡ simhash60, both
   * words from the one md5 per token) give 60·words total bits at the
   * SAME band count, so each band key carries 60·words/bands bits and
   * expected bucket size drops from n/2^10 to n/2^20 at the defaults
   * (words=2, bands=6) — tractable to ~10 BILLION docs before buckets
   * outgrow the per-key join. Hamming distance spans all words
   * (Σ bit_count(xor) per word), and the pigeonhole guarantee is
   * unchanged: maxHamming < bands flipped bits cannot touch every
   * band, so the banded candidates provably contain every qualifying
   * pair and the verify keeps the result EXACT at the wider width too
   * (equivalence-tested against the naive quadratic join).
   *
   * fp rides ALONG with the band rows (8·words bytes): the verify
   * needs no join-backs, and a pair colliding in k bands leaves
   * [[simhashBandJoin]] once.
   */
  def simhashNearDupPairsWide(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, bands: Int, words: Int): DataFrame =
    simhashNearDupPairsFromFp(
      simhashFingerprints(docs, idCol, textCol, "doc_id", words),
      maxHamming, bands, words)

  /** [[simhashNearDupPairsWide]] over a PRECOMPUTED (doc_id, fp)
    * frame — the shared-fingerprint entry: a persisted words=2 frame
    * (optionally `slice`d down) serves every family member without
    * re-tokenizing the corpus per query. */
  def simhashNearDupPairsFromFp(fpFrame: DataFrame,
      maxHamming: Int, bands: Int, words: Int): DataFrame = {
    val banded = simhashBandRowsFromFp(fpFrame, "doc_id",
      maxHamming, bands, words)
    simhashBandJoin(banded, banded, maxHamming, bands, words)
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("hamming"))
  }

  /**
   * INCREMENTAL SimHash — the fingerprint twin of
   * [[incrementalNearDup]], completing the probe-against-standing-
   * corpus family (exact hash / MinHash-Jaccard / SimHash-Hamming):
   * each batch doc probes the corpus's banded fingerprint index and
   * emits (batch_id, corpus_id, hamming) for every corpus doc within
   * `maxHamming` — exact by the same pigeonhole argument as the
   * self-join variant (a qualifying pair agrees on ≥ 1 band).
   *
   * Scale shape: the corpus side is |corpus|·bands narrow (band, key,
   * id, fp) rows — persist/bucket them by (band, key) once per corpus
   * snapshot and a daily batch pays |batch|·bands probe rows; the
   * verify is one bit_count per surviving collision, no join-backs.
   */
  def simhashProbePairs(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, maxHamming: Int, bands: Int, words: Int): DataFrame =
    probeSimhashIndex(batch,
      simhashBandRows(corpus, idCol, textCol, "corpus_id",
        maxHamming, bands, words),
      idCol, textCol, maxHamming, bands, words)

  /** The STANDING banded fingerprint index for repeated SimHash
    * probing (a stream): the persisted (corpus_id, fp, band, key)
    * rows — |corpus|·bands narrow rows, computed once per corpus
    * snapshot. fp rides with the band rows (the verify payload, as
    * the shingle set rides the MinHash index's), and the persist
    * amortizes the fingerprint pass across probes. */
  def corpusSimhashIndex(corpus: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, bands: Int, words: Int): (DataFrame, () => Unit) = {
    val c = simhashBandRows(corpus, idCol, textCol, "corpus_id",
      maxHamming, bands, words).persist()
    (c, () => { c.unpersist(); () })
  }

  /** Probe a [[corpusSimhashIndex]] (or any band-row frame built with
    * the same maxHamming/bands/words) with one batch: one row per
    * colliding (batch row, index row) pair within `maxHamming`,
    * emitted at its first shared band. The batch side is single-use,
    * so nothing needs caching or releasing. */
  def probeSimhashIndex(batch: DataFrame, corpusIndex: DataFrame,
      idCol: String, textCol: String, maxHamming: Int, bands: Int,
      words: Int): DataFrame =
    simhashBandJoin(simhashBandRows(batch, idCol, textCol, "batch_id",
        maxHamming, bands, words), corpusIndex, maxHamming, bands, words)
      .select(col("batch_id"), col("corpus_id"), col("hamming"))

  /**
   * Declarative HOF formulation of [[simhash16]] — 16 interpreted
   * `aggregate` passes, one per bit. Kept ONLY as the equivalence
   * reference for the native expression (TrainingDataSpec asserts
   * bit-identity) and as the portable statement of the spec.
   */
  def simhash16Hof(text: Column): Column = {
    val hs = transform(TextAnalysis.tokens(text), t =>
      TextAnalysis.charPolyHash(t) % 65536)
    // Unrolled over the 16 bit positions (compile-time constants), so
    // bit tests are pure modular arithmetic — no shifts on columns.
    (0 until 16).map { j =>
      val pow = 1L << j
      val vote = aggregate(hs, lit(0L), (v, h) =>
        v + when(h % (2 * pow) >= pow, lit(1L)).otherwise(lit(-1L)))
      when(vote > 0, lit(pow)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  // ---------------------------------------------------------------- decontamination
  /**
   * Train/eval decontamination scores: for every training document,
   * the fraction of its distinct k-token shingles that also occur
   * anywhere in the held-out (test/benchmark) split. The standard
   * pretraining hygiene pass — documents whose n-gram overlap with an
   * eval set exceeds `threshold` are flagged for removal so the model
   * is not graded on memorized training text.
   *
   * Output: (idCol, n_grams, n_overlap, contamination, contaminated),
   * one row per training doc (docs with < k tokens score 0).
   *
   * Scale shape: eval sets are small by contract (benchmarks, not
   * corpora), so their distinct gram set BROADCASTS and the exploded
   * training grams never shuffle — the only exchange is the final
   * per-doc count aggregation, and explode keeps a doc's grams within
   * one partition, so map-side partial aggregation collapses to ~one
   * row per doc before it moves. Pass `broadcastTest = false` if the
   * held-out side is genuinely corpus-sized.
   */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
      isTrain: Column, isTest: Column, k: Int = 3, threshold: Double = 0.5,
      broadcastTest: Boolean = true): DataFrame = {
    val testGrams = docs.filter(isTest)
      .select(explode(shingles(col(textCol), k)).as("gram")).distinct()
      .withColumn("hit", lit(1))
    contaminationAgainstIndex(docs.filter(isTrain), idCol, textCol,
      testGrams, k, threshold, broadcastTest)
  }

  /**
   * The STANDING eval-gram index for repeated decontamination (a
   * stream): the persisted distinct k-shingle set of the held-out
   * split, computed once per eval-suite revision — eval sets change on
   * benchmark releases, not per batch, so a long-running ingest
   * re-deriving them per micro-batch pays |eval| shingle work ×
   * batches for nothing. Same release contract as every standing
   * index here.
   */
  def evalGramIndex(evalDocs: DataFrame, textCol: String,
      k: Int = 3): (DataFrame, () => Unit) = {
    val g = evalDocs
      .select(explode(shingles(col(textCol), k)).as("gram")).distinct()
      .withColumn("hit", lit(1))
      .persist()
    (g, () => { g.unpersist(); () })
  }

  /** Score a batch against an eval-gram index ([[evalGramIndex]] or
    * any (gram, hit) frame) — the per-batch path of train/eval
    * decontamination, persisting nothing itself. */
  def contaminationAgainstIndex(batch: DataFrame, idCol: String,
      textCol: String, gramIndex: DataFrame, k: Int = 3,
      threshold: Double = 0.5, broadcastIndex: Boolean = true): DataFrame = {
    val gi = if (broadcastIndex) broadcast(gramIndex) else gramIndex
    val trainGrams = batch
      .select(col(idCol), explode_outer(shingles(col(textCol), k)).as("gram"))
    val agg = trainGrams.join(gi, Seq("gram"), "left")
      .groupBy(idCol)
      .agg(count(col("gram")).as("n_grams"), count(col("hit")).as("n_overlap"))
    agg.select(col(idCol), col("n_grams"), col("n_overlap"),
      round(col("n_overlap").cast("double") / greatest(col("n_grams"), lit(1L)), 6)
        .as("contamination"))
      .withColumn("contaminated", col("contamination") >= threshold)
  }

  // ---------------------------------------------------------------- incremental
  /**
   * INCREMENTAL near-dup — the fuzzy twin of [[incrementalExactDedup]]:
   * match an incoming batch against the standing corpus's LSH BAND
   * INDEX (band_key → corpus doc) instead of re-running the all-pairs
   * funnel over corpus ∪ batch. Candidates are batch-band ⋈
   * corpus-band collisions; the exact shingle-Jaccard verify keeps
   * only true matches. Emits one row per matching (batch, corpus)
   * pair — a batch doc colliding with nothing emits nothing and is
   * genuinely new.
   *
   * Scale shape: the corpus index is |corpus|·bands narrow rows you
   * persist (and bucket by band_key) ONCE — [[corpusNearDupIndex]] is
   * that build step, reusable across probes; each batch pays
   * |batch|·bands probe rows, each carrying its shingle set so the
   * verify runs in place on candidates only. Within-batch duplicates are [[nearDupPairs]] on the batch
   * alone — orthogonal, corpus-independent cost.
   */
  def incrementalNearDup(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame =
    incrementalNearDupManaged(batch, corpus, idCol, textCol, threshold)._1

  /** [[incrementalNearDup]] with a release handle unpersisting BOTH
    * cached signature frames (batch + corpus). One-shot use; a caller
    * probing the same corpus repeatedly (a stream) should build the
    * index once with [[corpusNearDupIndex]] and pay only the batch
    * side per probe via [[probeNearDupIndex]]. */
  def incrementalNearDupManaged(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      threshold: Double): (DataFrame, () => Unit) = {
    val (idx, releaseIdx) = corpusNearDupIndex(corpus, idCol, textCol)
    val (out, releaseBatch) = probeNearDupIndex(batch, idx, idCol, textCol,
      threshold)
    (out, () => { releaseBatch(); releaseIdx(); () })
  }

  /**
   * The STANDING corpus side of incremental near-dup, computed once:
   * the persisted (corpus_id, sh_corpus, sig) frame that
   * [[probeNearDupIndex]] bands and joins against per batch. Build it
   * once per corpus snapshot and reuse across every probe — a
   * long-running stream re-deriving (and re-caching) corpus signatures
   * per micro-batch pays |corpus| digest work × batches for nothing.
   * The release handle drops the cache when the corpus snapshot is
   * superseded.
   */
  def corpusNearDupIndex(corpus: DataFrame, idCol: String,
      textCol: String): (DataFrame, () => Unit) = {
    // The rename happens INSIDE the persisted select (not as a
    // projection on top of it) so the release handle unpersists the
    // exact cached plan.
    val c = withSignatures(corpus, idCol, textCol, "corpus_id", "sh_corpus")
    (c, () => { c.unpersist(); () })
  }

  /** Batch-side signature frame (batch_id, sh_batch, sig), persisted,
    * with a release handle — what [[probeNearDupIndex]] builds
    * internally, exposed so composed queries can build the batch
    * signatures ONCE and feed several consumers
    * ([[pairsFromSignatures]] for within-batch pairs,
    * [[probeFromSignatures]] for the corpus probe). */
  def batchSignatures(batch: DataFrame, idCol: String,
      textCol: String): (DataFrame, () => Unit) = {
    val b = withSignatures(batch, idCol, textCol, "batch_id", "sh_batch")
    (b, () => { b.unpersist(); () })
  }

  /** Probe a [[corpusNearDupIndex]] with one incoming batch; the
    * release handle drops only the BATCH-side cache, leaving the
    * standing index persisted for the next probe. */
  def probeNearDupIndex(batch: DataFrame, corpusIndex: DataFrame,
      idCol: String, textCol: String,
      threshold: Double): (DataFrame, () => Unit) = {
    val (b, releaseBatch) = batchSignatures(batch, idCol, textCol)
    (probeFromSignatures(b, corpusIndex, threshold), releaseBatch)
  }

  /** The cross-probe funnel over ALREADY-BUILT frames — batch
    * signatures ([[batchSignatures]]) against a standing
    * [[corpusNearDupIndex]] — with no persist of its own (the shared-
    * index counterpart of [[pairsFromSignatures]]). */
  def probeFromSignatures(batchSig: DataFrame, corpusIndex: DataFrame,
      threshold: Double): DataFrame =
    bandCandidates(bandRows(batchSig), bandRows(corpusIndex))
      .select(col("batch_id"), col("corpus_id"),
        jaccard(col("sh_batch"), col("sh_corpus")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** [[probeFromSignatures]] against an AT-REST signature table
    * ([[SignatureIndex.open]]) instead of the session-RAM index: the
    * candidate step reads only the stored fixed-width signatures (no
    * corpus text touched, nothing re-signed — the restart economy the
    * at-rest table exists for), and the exact-Jaccard verify joins
    * only the CANDIDATES' ids back onto the corpus text and shingles
    * those rows alone. `corpusText` must cover every id the signature
    * table holds (the standing corpus the folds also land in — e.g.
    * `CuratedCorpus.open`): a missing id silently drops its candidate
    * pairs (inner join). Output and verdicts are identical to the
    * in-RAM probe (SignatureIndexSpec pins equality); a doc_id the
    * table stores twice (folded twice) repeats its verified row. */
  def probeAtRestSignatures(batchSig: DataFrame, atRestSigs: DataFrame,
      corpusText: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val idx = atRestSigs.select(col("doc_id").as("corpus_id"), col("sig"))
    // join the candidates onto the RAW text first, then shingle the
    // joined rows: shingling below the join would tokenize the whole
    // corpus per probe — the exact cost the at-rest table amortizes
    // away (and Catalyst never pushes a computed projection through
    // a join, so the order here IS the plan order)
    bandCandidates(bandRows(batchSig), bandRows(idx))
      .select(col("batch_id"), col("sh_batch"), col("corpus_id"))
      .join(corpusText.select(col(idCol).as("corpus_id"),
        col(textCol).as("__text")), "corpus_id")
      .withColumn("sh_corpus", shingles(col("__text")))
      .withColumn("jaccard", jaccard(col("sh_batch"), col("sh_corpus")))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }

  /**
   * INCREMENTAL exact dedup — the production shape: dedup an incoming
   * batch against the corpus already ingested WITHOUT re-deduping the
   * corpus. A new doc is a duplicate if its canonical hash exists in
   * the corpus (left-semi evidence via the joined flag) OR an earlier
   * (smaller-id) doc in the same batch shares the hash. Emits every
   * batch doc with `is_dup`; downstream keeps `!is_dup` rows and
   * appends their hashes to the corpus index.
   *
   * Scale shape: the corpus side reduces to its DISTINCT hash set
   * (partial-aggregated map-side), the join is hash-equi on uniform
   * md5 keys, and the within-batch keeper is one window on the same
   * hash partitioning — at 100 TB the corpus index is the thing you
   * keep bucketed by hash (graft.sources.Bucketed) so the daily batch
   * join never reshuffles history.
   */
  def incrementalExactDedup(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpusHashes = corpus
      .select(exactHash(col(textCol)).as("norm_hash")).distinct()
      .withColumn("__in_corpus", lit(true))
    val hashed = batch.select(col(idCol),
      exactHash(col(textCol)).as("norm_hash"))
    val w = Window.partitionBy("norm_hash")
    hashed
      .join(corpusHashes, Seq("norm_hash"), "left")
      .withColumn("__batch_dup", col(idCol) =!= min(idCol).over(w))
      .select(col(idCol), col("norm_hash"),
        (coalesce(col("__in_corpus"), lit(false)) || col("__batch_dup"))
          .as("is_dup"))
  }

  // ---------------------------------------------------------------- mixture
  /**
   * Mixture REBALANCING sample: derive a per-domain keep rate from the
   * observed domain counts so the sample hits `targets` (fractions of
   * the SAMPLED output) at overall fraction `budget` of the corpus —
   * rate_d = min(1, budget·target_d·total/n_d). A stratum too small to
   * fill its target keeps everything (rate clamps at 1) and the output
   * mixture degrades gracefully; importance weight 1/rate restores
   * unbiased statistics either way.
   *
   * Selection is the deterministic salted content hash (same mechanism
   * as the stratified sampler), so reruns are bit-identical and the
   * oracle can restate the filter. budget·target products must be
   * embedded as literals computed ONCE (here, driver-side) so both
   * engines parse the identical IEEE double.
   *
   * Scale shape: the stats pass is one partial-aggregating scan to a
   * |domains|-row table; the rates broadcast into a narrow hash
   * filter — no shuffle ever touches the corpus.
   */
  def mixtureSample(docs: DataFrame, domainCol: String, idCol: String,
      textCol: String, targets: Seq[(String, Double)],
      budget: Double): DataFrame = {
    require(targets.nonEmpty, "mixtureSample needs at least one target")
    val bt = targets.tail.foldLeft(
      when(col(domainCol) === targets.head._1, lit(budget * targets.head._2))) {
      case (acc, (d, tgt)) => acc.when(col(domainCol) === d, lit(budget * tgt))
    }
    // total via a global window over the |domains|-row counts table
    // (NOT a crossJoin against a 1-row aggregate, which plans a
    // nested-loop join and trips the global degenerate-join guard;
    // the single-partition window moves |domains| rows, nothing more)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val rates = docs.groupBy(domainCol).agg(count(lit(1)).as("n_c"))
      .withColumn("total", sum("n_c").over(w))
      .select(col(domainCol), least(lit(1.0),
        bt * col("total").cast("double") / col("n_c").cast("double"))
        .as("rate"))
    val bucket =
      TextAnalysis.charPolyHash(concat(col(textCol), lit("|mix"))) % 1000000
    docs.join(broadcast(rates), Seq(domainCol))
      .select(col(idCol), col(domainCol), bucket.as("bucket"), col("rate"))
      .where(col("bucket") < floor(col("rate") * 1000000))
      .select(col(idCol), col(domainCol), col("bucket"),
        round(lit(1.0) / col("rate"), 6).as("weight"))
  }
}
