package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/**
 * Pins the in-row term counter (TextAnalysis.termCounts, the native
 * TermCounts pass q_text_keywords counts with) against the declarative
 * explode → filter stopwords → groupBy(doc_id, token) count it
 * replaces, on seeded random corpora with repeated tokens, mixed case,
 * stopword-only, empty, whitespace-only, null and non-ASCII texts and
 * repeated doc ids — under whole-stage codegen and fully interpreted.
 */
class TermCountsPropertySpec extends SparkSpec {
  import spark.implicits._

  private def withCodegen[A](on: Boolean)(body: => A): A = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), on.toString)
    spark.conf.set(keys(1), if (on) "CODEGEN_ONLY" else "NO_CODEGEN")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val vocab = Seq("The", "the", "A", "and", "of", "cat", "Cat", "CAT",
    "dog", "éclair", "Éclair", "straße", "中文", "日本語", "Ωμέγα", "ωμέγα",
    "x", "x1", "it's", "—", "🙂")
  private val seps = Seq(" ", "  ", "\t", "\n", " \r\n ")

  private def corpus(seed: Long, n: Int): Seq[(Long, String)] = {
    val r = new scala.util.Random(seed)
    val fixed = Seq[(Long, String)](
      (0L, null), (1L, ""), (2L, "   \t "), (3L, "the a an and of to in is it that"),
      (4L, "x x x X x"), (5L, "The cat the CAT cat\ta dog"), (5L, "cat dog"))
    fixed ++ (0 until n).map { i =>
      val len = r.nextInt(12)
      val body = (0 until len).map { _ =>
        vocab(r.nextInt(vocab.size)) + seps(r.nextInt(seps.size))
      }.mkString
      // a few doc ids repeat, so the per-(doc, token) merge must sum
      ((10 + r.nextInt(n)).toLong, (if (r.nextBoolean()) " " else "") + body)
    }
  }

  private def native(df: DataFrame): Map[(Long, String), Long] =
    df.select(col("doc_id"), explode(TextAnalysis.termCounts(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t.token").as("token"))
      .agg(sum(col("t.tf")).as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

  private def declarative(df: DataFrame): Map[(Long, String), Long] =
    df.select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(!col("token").isin(TextAnalysis.Stopwords: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

  private val modes = Seq(true, false) // whole-stage codegen, then interpreted

  test("term counts match explode + groupBy(doc_id, token) on seeded corpora") {
    for (cg <- modes; seed <- Seq(3L, 17L, 101L)) withCodegen(cg) {
      val df = corpus(seed, 60).toDF("doc_id", "text")
      val (a, b) = (native(df), declarative(df))
      assert(a.nonEmpty && a == b,
        s"seed $seed codegen=$cg: native $a vs declarative $b")
    }
  }

  test("term counts: hand-computed rows, first-occurrence order") {
    for (cg <- modes) withCodegen(cg) {
      val rows = Seq[(Int, String)]((0, "The cat the CAT cat\ta dog"),
        (1, "the a an of"), (2, ""), (3, null), (4, "Éclair éclair 中文"))
        .toDF("id", "text")
        .select(col("id"), TextAnalysis.termCounts(col("text")).as("t"))
        .orderBy("id").collect()
      def pairs(i: Int) = rows(i).getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getString(0), r.getInt(1)))
      assert(pairs(0) == Seq(("cat", 3), ("dog", 1)), s"codegen=$cg")
      assert(pairs(1).isEmpty && pairs(2).isEmpty, s"codegen=$cg")
      assert(rows(3).isNullAt(1), s"codegen=$cg: null text must yield a null array")
      assert(pairs(4) == Seq(("éclair", 2), ("中文", 1)), s"codegen=$cg")
    }
  }
}
