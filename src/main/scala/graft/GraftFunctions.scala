package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftshim.{GraftRegistration, GraftShims}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/**
 * Graft's native Catalyst functions. The Column API below needs no
 * registration — it builds Columns directly from the expressions, so
 * it works on the driver's plain sessions. [[GraftFunctions.registerAll]]
 * adds SQL access by registering every function on an existing session.
 */
object GraftFunctions {

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(v: UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** (name, usage, builder) for every SQL-exposed native function. */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("legacy_charset_decode",
      "legacy_charset_decode(col, 'Big5') - recover halfwidth-mangled legacy-charset text",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "legacy_charset_decode(col, 'charset')")
        LegacyCharsetDecode(exprs.head, strLit(exprs(1), "charset"))
      }),
    ("vector_dot",
      "vector_dot(a, b) - strict left-fold dot product of float/double arrays",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "vector_dot(a, b)")
        VectorDot(exprs.head, exprs(1))
      }),
    ("jaccard_sim",
      "jaccard_sim(a, b) - exact Jaccard similarity of two string-array sets",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "jaccard_sim(a, b)")
        JaccardSim(exprs.head, exprs(1))
      }),
    ("token_shingles",
      "token_shingles(text, k) - distinct k-token shingles of lower-cased text",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "token_shingles(text, k)")
        TokenShingles(exprs.head, intLit(exprs(1), "k"))
      }),
    ("token_ngrams",
      "token_ngrams(text, k) - positional k-token n-grams of lower-cased text (duplicates kept)",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "token_ngrams(text, k)")
        TokenNgrams(exprs.head, intLit(exprs(1), "k"))
      }),
    ("minhash_sig",
      "minhash_sig(text, k, n) - n-component MinHash signature over k-token shingles",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, "minhash_sig(text, k, n)")
        MinHashSig(exprs.head, intLit(exprs(1), "k"), intLit(exprs(2), "n"))
      }),
    ("char_poly_hash",
      "char_poly_hash(s) - polynomial code-point hash (int64); NULL and '' both -> 0",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "char_poly_hash(s)")
        // NULL hashes to 0 on every surface (SQL, Column API,
        // TextAnalysis.charPolyHash, DuckDB oracle's CASE)
        org.apache.spark.sql.catalyst.expressions.Coalesce(
          Seq(CharPolyHash(exprs.head), Literal(0L)))
      }),
    ("simhash16",
      "simhash16(text) - 16-bit SimHash fingerprint of whitespace tokens (int64); NULL text -> 0",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "simhash16(text)")
        // NULL text fingerprints as 0 on EVERY surface (SQL, Column
        // API, Dedup.simhash16, DuckDB oracle) — the raw expression is
        // null-intolerant like any UnaryExpression
        org.apache.spark.sql.catalyst.expressions.Coalesce(
          Seq(SimHash16(exprs.head), Literal(0L)))
      }),
    ("simhash60",
      "simhash60(text) - 60-bit md5-token SimHash fingerprint (int64, bandable)",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "simhash60(text)")
        SimHash60(exprs.head)
      }),
    ("repetition_counts",
      "repetition_counts(text) - struct of within-document repetition counts " +
        "(n_tokens, n_distinct, top_bigram, n_bigrams, top_trigram, n_trigrams)",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "repetition_counts(text)")
        RepetitionCounts(exprs.head)
      }))

  /** Register every graft function as a temp function on `spark` (SQL
    * access on sessions built without extensions). */
  def registerAll(spark: SparkSession): Unit =
    builders.foreach { case (name, usage, builder) =>
      GraftRegistration.register(spark, name, usage, builder)
    }

  // ---------------------------------------------------------------- Column API
  /** T4 charset recovery (works on any session, no registration). */
  def legacyCharsetDecode(c: Column, charset: String): Column =
    GraftShims.column(LegacyCharsetDecode(GraftShims.expression(c), charset))

  def vectorDot(a: Column, b: Column): Column =
    GraftShims.column(VectorDot(GraftShims.expression(a), GraftShims.expression(b)))

  def jaccardSim(a: Column, b: Column): Column =
    GraftShims.column(JaccardSim(GraftShims.expression(a), GraftShims.expression(b)))

  def tokenShingles(text: Column, k: Int = 3): Column =
    GraftShims.column(TokenShingles(GraftShims.expression(text), k))

  def tokenNgrams(text: Column, k: Int): Column =
    GraftShims.column(TokenNgrams(GraftShims.expression(text), k))

  def minhashSig(text: Column, k: Int = 3, numHashes: Int = 8): Column =
    GraftShims.column(MinHashSig(GraftShims.expression(text), k, numHashes))

  def simhash16(text: Column): Column =
    // same NULL -> 0 coalesce as the SQL registration and Dedup.simhash16
    org.apache.spark.sql.functions.coalesce(
      GraftShims.column(SimHash16(GraftShims.expression(text))), lit(0L))

  def charPolyHash(s: Column): Column =
    // same NULL -> 0 coalesce as the SQL registration and
    // TextAnalysis.charPolyHash
    org.apache.spark.sql.functions.coalesce(
      GraftShims.column(CharPolyHash(GraftShims.expression(s))), lit(0L))

  def simhash60(text: Column): Column =
    GraftShims.column(SimHash60(GraftShims.expression(text)))

  def repetitionCounts(text: Column): Column =
    GraftShims.column(RepetitionCounts(GraftShims.expression(text)))
}
