package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/**
 * The batch operator catalogue (`SparkEntry.queries`), grouped into
 * modules by query-name prefix. A run times a fixed sample of the
 * catalogue — the [[Sample]] below, one query per module —
 * each forced with `.count()` and checked against the row count pinned
 * in `catalogue_counts.tsv` for the benchmark's generated data set.
 */
object Catalogue {

  /** Module of a catalogue query, by name prefix. */
  def module(query: String): String = {
    val prefixes = Seq(
      "cdc" -> Seq("q_cdc_"),
      "text" -> Seq("q_text_"),
      "dedup" -> Seq("q_dedup_", "q_sample_"),
      "ann" -> Seq("q_ann_"),
      "analytics" -> Seq("q_events_", "q_profile_", "q1_", "q_join_", "q_lineitem_"),
      "pipeline" -> Seq("q_pipeline_", "q_dq_"),
      "multimodal" -> Seq("q_mm_"))
    prefixes.collectFirst { case (m, ps) if ps.exists(query.startsWith) => m }
      .getOrElse(sys.error(s"catalogue query $query belongs to no module"))
  }

  val Modules: Seq[String] = Seq("cdc", "text", "dedup", "ann", "analytics", "pipeline",
    "multimodal")

  /** Pinned row counts, `query<TAB>count` per line. */
  lazy val pinned: Map[String, Long] = {
    val in = getClass.getResourceAsStream("/catalogue_counts.tsv")
    require(in != null, "catalogue_counts.tsv is missing from the classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, n) = l.split("\t"); q -> n.toLong }.toMap
    finally in.close()
  }

  /** The timed sample: every query with a pinned count. */
  lazy val Sample: Seq[String] = pinned.keys.toSeq.sorted

  final case class Exec(query: String, wallMs: Double, count: Option[Long]) {
    def ok: Boolean = count.contains(pinned(query))
  }

  /** Run one query, forced with `.count()`; a query that throws has no count. */
  def run(spark: SparkSession, dir: String, q: String): Exec = {
    val t0 = System.nanoTime()
    val n = try Some(SparkEntry.queries(q)(spark, dir).count()) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $q failed: $e"); None
    }
    Exec(q, (System.nanoTime() - t0) / 1e6, n)
  }

  def pass(spark: SparkSession, dir: String, queries: Seq[String]): Seq[Exec] =
    queries.map(run(spark, dir, _))
}
