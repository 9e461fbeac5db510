package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines:
 * tokenization, token counting, quality scoring, language ID, and
 * rolling-hash document fingerprinting.
 *
 * Everything here is a composition of codegen'd builtins (split /
 * transform / aggregate / filter HOFs), so the whole column chain stays
 * inside whole-stage codegen and scales as a single narrow pass over
 * the corpus — no UDFs, no shuffles, no driver-side work. At 100 TB
 * these run once per document at scan speed.
 *
 * Every function has an exact DuckDB SQL mirror (same fold order, same
 * modular arithmetic, RE2-compatible patterns) in [[TextSql]], built
 * from the same constants, so the driver's oracle can hash-compare.
 */
object TextAnalysis {

  /** Stopword list used by the quality metrics (shared with TextSql). */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  /** Modulus for all polynomial hashes — keeps every intermediate in
    * exact int64 range in both Spark and DuckDB. */
  val HashPrime: Long = 1000000007L

  // ---------------------------------------------------------------- tokenize
  /** Whitespace tokenization (lower-cased, empty tokens dropped). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /**
   * BPE-ish subword pre-tokenization: runs of alphanumerics, or single
   * non-space punctuation marks. Uses regexp_extract_all (not split),
   * so the pattern needs no lookarounds and mirrors into RE2/DuckDB.
   */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))

  /** CJK-aware tokenization: [[tokens]] semantics for Latin-script
    * runs, character BIGRAMS for runs of Han/Kana/Hangul — a
    * spaceless CJK document is one whitespace token, invisible to
    * Jaccard dedup, vocab drift, and span coverage; the bigram
    * fallback (CC-Net-style public practice) restores sub-sentence
    * granularity. Native codegen'd expression
    * ([[graft.functions.CjkTokens]]); exact RE2 mirror in
    * [[TextSql.tokensCjk]] built from the same codepoint bounds. */
  def tokensCjk(text: Column): Column = {
    import org.apache.spark.sql.graftshim.GraftShims.{column => toCol, expression => toExpr}
    toCol(graft.functions.CjkTokens(toExpr(text)))
  }

  /** A document's non-[[Stopwords]] term counts as
    * array<struct<token, tf>>, distinct tokens in first-occurrence
    * order: the multiset of [[tokens]] minus stopwords, counted in one
    * native pass inside the row ([[graft.functions.TermCounts]]). The
    * text is lower-cased here by `lower`, as [[tokens]] does, so both
    * see the same tokens. */
  def termCounts(text: Column): Column = {
    import org.apache.spark.sql.graftshim.GraftShims.{column => toCol, expression => toExpr}
    toCol(graft.functions.TermCounts(toExpr(lower(text)), Stopwords))
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  // ---------------------------------------------------------------- quality
  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column = {
    val punct = length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))
    round(punct.cast("double") / greatest(length(text), lit(1)), 6)
  }

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column): Column = stopwordRatioOfTokens(tokens(text))

  /** [[stopwordRatio]] over an ALREADY-TOKENIZED array column — the
    * form a caller uses after materializing [[tokens]] once behind a
    * plan barrier: higher-order functions carry lambda variables, which
    * codegen subexpression elimination refuses to touch, so every
    * text-based metric reference re-runs the split regex; computing the
    * array once and passing the attribute here pays the split exactly
    * once per row. Same expression tree as the text form, so null/empty
    * semantics are identical. */
  def stopwordRatioOfTokens(toks: Column): Column = {
    val stops = size(filter(toks, t => t.isin(Stopwords: _*)))
    round(stops.cast("double") / greatest(size(toks), lit(1)), 6)
  }

  /** Mean token length in characters. */
  def meanTokenLen(text: Column): Column = meanTokenLenOfTokens(tokens(text))

  /** [[meanTokenLen]] over an already-tokenized array column (see
    * [[stopwordRatioOfTokens]] for why the split-once form exists). */
  def meanTokenLenOfTokens(toks: Column): Column =
    round(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        greatest(size(toks), lit(1)), 6)

  /**
   * Composite quality score in [0,1] — the usual pretraining-filter
   * shape (length band + stopword presence + low punctuation noise):
   *   0.4·[50 ≤ n_chars ≤ 10000] + 0.3·[0.05 ≤ stopword ratio ≤ 0.5]
   * + 0.3·[punct ratio ≤ 0.2]
   */
  def qualityScore(text: Column): Column = {
    val lenOk = length(text).between(50, 10000).cast("double") * 0.4
    val stopOk = stopwordRatio(text).between(0.05, 0.5).cast("double") * 0.3
    val punctOk = (punctRatio(text) <= 0.2).cast("double") * 0.3
    round(lenOk + stopOk + punctOk, 6)
  }

  // ---------------------------------------------------------------- repetition
  /** Within-document repetition counts — native single-pass struct
    * (graft.functions.RepetitionCounts): n_tokens, n_distinct,
    * top_bigram/n_bigrams, top_trigram/n_trigrams. */
  def repetitionCounts(text: Column): Column =
    graft.GraftFunctions.repetitionCounts(text)

  /** Duplicate-token fraction from a [[repetitionCounts]] struct:
    * (n_tokens − n_distinct) / n_tokens, 0 for empty docs. */
  def dupTokenFrac(r: Column): Column =
    round((r.getField("n_tokens") - r.getField("n_distinct")).cast("double") /
      greatest(r.getField("n_tokens"), lit(1)), 6)

  /** Top-n-gram fraction: count of the modal n-gram over total n-gram
    * positions, 0 when the doc has no n-grams. */
  def topGramFrac(top: Column, total: Column): Column =
    round(top.cast("double") / greatest(total, lit(1)), 6)

  // ---------------------------------------------------------------- filter rules
  /** Gopher-style quality-filter thresholds (Rae et al. 2021 §A1.1,
    * adapted to this corpus' scale — shared with TextSql so the DuckDB
    * oracle applies the identical rules). Rule order = reason
    * precedence: the FIRST failing rule names the document's
    * fail_reason. */
  val MinTokens = 20
  val MaxTokens = 10000
  val MinMeanTokenLen = 3.0
  val MaxMeanTokenLen = 10.0
  val MinStopwordRatio = 0.03 // applied to docs labeled 'en' only
  val MaxPunctRatio = 0.2
  val MaxDupTokenFrac = 0.55
  val QualityRuleNames: Seq[String] =
    Seq("length", "word_len", "stopword", "punct", "repetition")
  /** Per-language marker words for the language-ID heuristic (shared
    * with TextSql — sequence order defines the argmax tie-break). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "is", "of", "to"),
    "de" -> Seq("der", "und", "die", "das", "nicht"),
    "es" -> Seq("el", "la", "los", "que", "y"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq.empty) // CJK detected by codepoint range, not markers

  /** Count of CJK-range characters (U+4E00..U+9FFF). */
  def cjkCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\x{4e00}-\\x{9fff}]", ""))

  /**
   * Marker-based language ID: score each language by marker-token hits
   * (zh by CJK character count); argmax, first language wins ties; all
   * zero → "und".
   */
  def langId(text: Column): Column = langIdOf(tokens(text), cjkCount(text))

  /** [[langId]] over an ALREADY-TOKENIZED array + precomputed CJK
    * count — the split-once form for consumers that must evaluate the
    * prediction for every row (q_text_langid_confusion materializes
    * the token array behind a plan barrier and scores the attribute).
    * The when-chain formulation is KEPT deliberately: an
    * array+argmax rewrite (array_max/array_position over a scores
    * array) measured ~2× MORE cpu at sf0.1 (idle RunOne A/B, 8 reps)
    * — the chain's repeated score subtrees codegen cheaper than the
    * array construction + position scan — so the win is taken by
    * hoisting the tokenization, not by restructuring the argmax. */
  def langIdOf(toks: Column, cjk: Column): Column = {
    val scored: Seq[(String, Column)] = LangMarkers.map {
      case ("zh", _)     => "zh" -> cjk
      case (lang, marks) => lang -> size(filter(toks, t => t.isin(marks: _*)))
    }
    val best = scored.map(_._2).reduce(greatest(_, _))
    val first = when(scored.head._2 === best && best > 0, lit(scored.head._1))
    scored.tail.foldLeft(first) { case (acc, (lang, s)) =>
      acc.when(s === best && best > 0, lit(lang))
    }.otherwise(lit("und"))
  }

  // ---------------------------------------------------------------- PII
  /** RE2-safe PII patterns (no lookarounds — portable to the oracle).
    * Replacement order matters: URLs first (may embed emails), then
    * emails, then phone-number runs. */
  val UrlRe = "https?://[^\\s]+"
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9()\\-\\s]{7,}[0-9]"

  /** Redact URLs/emails/phones with typed placeholder tokens. */
  def redactPii(text: Column): Column = {
    val noUrl = regexp_replace(text, UrlRe, "<URL>")
    val noEmail = regexp_replace(noUrl, EmailRe, "<EMAIL>")
    regexp_replace(noEmail, PhoneRe, "<PHONE>")
  }

  /** Count of matches for a PII pattern (post-upstream-redaction
    * counts should use the same replacement order as redactPii). */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  // ---------------------------------------------------------------- hashing
  /**
   * Polynomial hash of a string column's code points:
   * fold(acc = (acc·31 + codepoint_i) mod P), exact int64; NULL and
   * empty both hash to 0 (the CaseWhen in the HOF formulation sends a
   * NULL length to the otherwise-0 branch, and the DuckDB mirror's
   * CASE does the same — the native expression preserves that via
   * coalesce). Single codegen'd pass (graft.functions.CharPolyHash);
   * [[charPolyHashHof]] keeps the declarative formulation as the
   * portable spec and parity check.
   */
  def charPolyHash(s: Column): Column = {
    import org.apache.spark.sql.graftshim.GraftShims.{column => toCol, expression => toExpr}
    coalesce(toCol(graft.functions.CharPolyHash(toExpr(s))), lit(0L))
  }

  /**
   * The declarative statement of [[charPolyHash]]: an explicit
   * position fold — `sequence(1, length)` + `substring` — rather than
   * split-on-empty, whose trailing-element semantics differ across
   * engines: fold(acc = (acc·31 + ascii(char_i)) mod P). `ascii` /
   * `substr` / `length` all count code points, so the fold unit is the
   * code point on both surfaces. Interpreted (HOFs sit outside
   * whole-stage codegen) and re-inlined per reference by
   * CollapseProject — kept as the spec the native expression is
   * parity-tested against, not for production plans.
   */
  def charPolyHashHof(s: Column): Column =
    when(length(s) > 0,
      aggregate(sequence(lit(1), length(s)), lit(0L),
        (acc, i) => (acc * 31 + ascii(s.substr(i, lit(1)))) % HashPrime))
      .otherwise(lit(0L))

  /** Rolling-hash document fingerprint (charPolyHash of the raw text). */
  def charFingerprint(text: Column): Column = charPolyHash(text)

  /** Per-token polynomial hashes (same fold, inside transform). */
  def tokenHashes(toks: Column): Column = transform(toks, charPolyHash(_))

  // ---------------------------------------------------------------- chunking
  /**
   * Sliding-window document chunking for context-length-bounded
   * training: split each document into windows of `chunkSize`
   * whitespace tokens starting every `stride` tokens (overlap =
   * chunkSize − stride), the standard pre-tokenization packing pass.
   * Case and punctuation are preserved — chunk text must stay
   * verbatim, so this splits on whitespace WITHOUT the lower-casing
   * the analysis tokenizer applies.
   *
   * Output: (idCol, chunk_id, chunk_text, n_tokens); a chunk starts at
   * every multiple of `stride` below the token count, so the final
   * window may be shorter than `chunkSize`. Empty/NULL docs emit no
   * chunks.
   *
   * Scale shape: generate-only — a narrow per-row explode with no
   * shuffle at any corpus size; output order is whatever the caller
   * sorts by downstream.
   */
  /**
   * Concat-and-chunk sequence packing — the GPT-style pretraining
   * layout: within each shard, documents are laid end-to-end in id
   * order and the token stream is cut into fixed `seqLen`-token
   * training sequences; a document that straddles a cut contributes a
   * row to each sequence it spans. Output, one row per (document,
   * sequence) span: shard, seq (per-shard sequence ordinal), idCol,
   * seq_offset (token position of the span inside its sequence),
   * n_tokens_in_seq. Every sequence except a shard's last is exactly
   * full — no padding waste, which is the point of packing.
   *
   * Scale shape: ONE shuffle on the shard key for the per-shard
   * running-total window, then a narrow bounded-fan-out explode (a doc
   * spans ≤ n_tokens/seqLen + 1 sequences). Shards are the
   * parallelism dial: the running total is sequential per shard by
   * construction (packing IS a prefix sum), so shard count must scale
   * with the corpus — at 100 TB you'd shard to ~10⁵ streams, each an
   * independent token stream; the per-shard cumulative sums never
   * overflow int64 and stay exact at any scale.
   */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Int, numShards: Int): DataFrame = {
    require(seqLen > 0 && numShards > 0,
      s"need positive seqLen/numShards, got seqLen=$seqLen numShards=$numShards")
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), (col(idCol) % numShards).as("shard"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
    packPlaced(base, idCol, "shard", idCol, "n_tokens", seqLen)
  }

  /** The packing core over PRE-PLACED rows — documents that already
    * carry a shard and an in-shard order (a mounted
    * [[graft.pipeline.Release]] epoch plan, a custom deal) plus a
    * token count: per-shard running prefix sum in `orderCol` order,
    * then the bounded-fan-out cut into `seqLen`-token sequences.
    * Zero-token rows are dropped (they occupy no span).
    * [[packSequences]] is this over (id % shards, id-order, counted
    * text); `Release.packEpoch` is this over the stored epoch
    * placement and PRE-COUNTED tokens — no text read at all. */
  def packPlaced(placed: DataFrame, idCol: String, shardCol: String,
      orderCol: String, nTokensCol: String, seqLen: Int): DataFrame = {
    require(seqLen > 0, s"need positive seqLen, got $seqLen")
    val running = Window.partitionBy(col(shardCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val spans = placed
      .filter(col(nTokensCol) > 0)
      .withColumn("__nt", col(nTokensCol).cast("long"))
      .withColumn("tok_start", coalesce(sum("__nt").over(running), lit(0L)))
      .withColumn("tok_end", col("tok_start") + col("__nt"))
    spans
      .withColumn("seq", explode(sequence(
        expr(s"tok_start div $seqLen"),
        expr(s"(tok_end - 1) div $seqLen"))))
      .select(col(shardCol).as("shard"), col("seq"), col(idCol),
        (greatest(col("tok_start"), col("seq") * seqLen) - col("seq") * seqLen)
          .as("seq_offset"),
        (least(col("tok_end"), (col("seq") + 1) * seqLen)
          - greatest(col("tok_start"), col("seq") * seqLen)).as("n_tokens_in_seq"))
  }

  def chunk(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(stride > 0 && chunkSize >= stride,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    val toks = filter(split(col(textCol), "\\s+"), t => t =!= "")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), col("__toks"),
        posexplode(sequence(lit(0), size(col("__toks")) - 1, lit(stride))))
      .select(col(idCol), col("pos").cast("long").as("chunk_id"),
        slice(col("__toks"), col("col") + 1, lit(chunkSize)).as("__ctoks"))
      .select(col(idCol), col("chunk_id"),
        array_join(col("__ctoks"), " ").as("chunk_text"),
        size(col("__ctoks")).cast("long").as("n_tokens"))
  }
}
