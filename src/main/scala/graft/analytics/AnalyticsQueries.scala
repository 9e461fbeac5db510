package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.{TextAnalysis, TextSql}

/**
 * Scale-idiom analytics queries: vocabulary build (explode + partial
 * agg), star-schema join enrichment (broadcast dims), and event
 * sessionization (window functions). These demonstrate the shuffle /
 * broadcast patterns the 100 TB deployment depends on:
 *
 *  - q_text_vocab: explode fans out ~50× before the groupBy, but
 *    map-side partial aggregation collapses each partition to its
 *    distinct tokens before the exchange — the shuffle carries the
 *    vocabulary, not the corpus.
 *  - q_join_enrich: fact table joins through orders/customer/nation/
 *    region; every dimension is broadcast (explicitly) so the only
 *    shuffle is the fact-side aggregation.
 *  - q_events_sessionize: one shuffle on user_id; both window passes
 *    (lag + running sum) and the final per-session aggregate reuse
 *    that single partitioning — no second exchange.
 *  - q_events_asof: point-in-time join (AsOf.joinAsOf) — union-tag +
 *    one window pass, O(left + right) shuffled rows instead of the
 *    join-then-rank O(matches) blowup.
 */
object AnalyticsQueries {

  val SessionGapMinutes = 30

  /** Trailing window of the banded range join (q_events_range_join). */
  val RangeWindowMinutes = 10

  /** Rank cutoff of the grouped top-k query (q_text_topk_per_group). */
  val TopKPerGroup = 5

  /** ONE explode + token-groupBy corpus pass — (token, n_corpus,
    * n_batch) split on the standing incremental boundary — shared by
    * the whole vocab family (build, drift, capped calibration): the
    * corpus-sized explode is each query's entire cost, and the three
    * run back-to-back in the driver harness. q_text_vocab's total is
    * exactly n_corpus + n_batch (the split covers every row), so
    * sharing the split pass changes no value anywhere. Same pattern
    * as DedupQueries.cachedSimhashFp. */
  private val tokenCountsCache = graft.Tables.registerSessionCache(
    scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String), DataFrame])
  private def cachedTokenCounts(s: SparkSession, dir: String): DataFrame =
    tokenCountsCache.getOrElseUpdate((s, dir), {
      val boundary = graft.dedup.DedupQueries.IncrementalSplitBoundary
      val bucket = TextAnalysis.charFingerprint(col("text")) % 100
      Tables(s, dir, "documents")
        .select((bucket >= boundary).as("is_batch"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(
          count(when(!col("is_batch"), lit(1))).as("n_corpus"),
          count(when(col("is_batch"), lit(1))).as("n_batch"))
        .persist()
    })

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_text_vocab" -> ((s, dir) =>
      cachedTokenCounts(s, dir)
        .select(col("token"),
          (col("n_corpus") + col("n_batch")).as("cnt"))
        .filter(col("cnt") >= 5)
        .orderBy(col("cnt").desc, col("token"))),

    // Vocabulary DRIFT between the standing corpus (train bucket) and
    // the incoming batch: per-token relative frequencies on each side
    // and the top total-variation contributors — the ingestion alarm
    // that fires before a source shift poisons the mixture. Pure
    // arithmetic (no transcendentals), so exactly oracle-portable
    // where a KL divergence's log would drift in the last ulp.
    // Scale shape: ONE token aggregation with map-side combine (the
    // shuffle carries the vocabulary, not the corpus); the side totals
    // are a global window over the aggregated vocab frame — a
    // vocabulary-sized single-partition pass, the trade against a
    // second full corpus scan (a crossJoin with a 1-row aggregate
    // would plan the BroadcastNestedLoopJoin the degenerate-join guard
    // bans); the top-K is a global TakeOrdered over the vocabulary.
    "q_text_vocab_drift" -> ((s, dir) => {
      val w = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
      val pc = col("n_corpus").cast("double") /
        greatest(sum("n_corpus").over(w), lit(1L)).cast("double")
      val pb = col("n_batch").cast("double") /
        greatest(sum("n_batch").over(w), lit(1L)).cast("double")
      cachedTokenCounts(s, dir)
        .select(col("token"), col("n_corpus"), col("n_batch"),
          round(pc, 9).as("p_corpus"), round(pb, 9).as("p_batch"),
          round(abs(pc - pb), 9).as("abs_diff"))
        .orderBy(col("abs_diff").desc, col("token"))
        .limit(VocabDriftTopK)
    }),

    // CAPPED-drift CALIBRATION: the true TVD next to the TVD computed
    // from a top-K capped profile (tail folded into one OTHER bucket —
    // DriftGate.cappedProfile, the standing profile a 100 TB corpus
    // with an unbounded vocabulary actually keeps), plus the machine-
    // checked verdict that capped ≤ true. The bound is structural
    // (folding replaces Σ|·| with |Σ·|), and comparing the DECIMAL
    // numerators — not the divided doubles — makes the verdict exact.
    // One aggregation tree: per-token terms and per-fold-key terms
    // aggregate in the same groupBy, so no cross join of two one-row
    // frames (which would plan a nested loop).
    "q_text_vocab_drift_capped" -> ((s, dir) => {
      val other = graft.pipeline.DriftGate.OtherToken
      val c = cachedTokenCounts(s, dir).select(col("token"),
        col("n_corpus").as("nc"), col("n_batch").as("nb"))
      val wTot = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
      val wRank = Window.orderBy(col("nc").desc, col("token"))
      // fold key: top-K CORPUS tokens keep identity (nc > 0 — a
      // batch-only token is outside the profile head by definition)
      val keyed = c
        .withColumn("tc", greatest(sum("nc").over(wTot), lit(1L)))
        .withColumn("tb", greatest(sum("nb").over(wTot), lit(1L)))
        .withColumn("rnk", row_number().over(wRank))
        .withColumn("key",
          when(col("rnk") <= CappedDriftTopK && col("nc") > 0, col("token"))
            .otherwise(lit(other)))
      val term = col("nc").cast("decimal(38,0)") * col("tb") -
        col("nb").cast("decimal(38,0)") * col("tc")
      val g = keyed.groupBy("key").agg(
        sum(abs(term)).as("true_part"),
        abs(sum(term)).as("capped_part"),
        max("tc").as("tc"), max("tb").as("tb"))
      g.agg(
          sum("true_part").as("tn"), sum("capped_part").as("cn"),
          max("tc").as("tc"), max("tb").as("tb"))
        .select(
          lit(CappedDriftTopK).as("capped_k"),
          round(col("tn").cast("double") /
            (lit(2.0) * col("tc") * col("tb")), 9).as("tvd_true"),
          round(col("cn").cast("double") /
            (lit(2.0) * col("tc") * col("tb")), 9).as("tvd_capped"),
          (col("cn") <= col("tn")).as("bounded"))
    }),

    // Grouped top-k: the k most frequent tokens per language. The
    // rank-filter-on-window shape plans a WindowGroupLimit below the
    // final sort (verified via explain): each map task keeps only its
    // local top-k per group BEFORE the lang exchange, so the window
    // shuffle carries O(groups · k) rows, not the full vocabulary —
    // the difference between a histogram and a corpus at 100 TB.
    "q_text_topk_per_group" -> ((s, dir) => {
      val counts = Tables(s, dir, "documents")
        .select(col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("lang")
        .orderBy(col("cnt").desc, col("token"))
      counts.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= TopKPerGroup)
        .orderBy("lang", "rnk")
    }),

    "q_join_enrich" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val orders = Tables(s, dir, "orders")
      val customer = broadcast(Tables(s, dir, "customer"))
      val nation = broadcast(Tables(s, dir, "nation"))
      val region = broadcast(Tables(s, dir, "region"))
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        // Sum in DECIMAL (exact, order-independent) and cast the final
        // aggregate to DOUBLE — the deterministic emission convention
        // shared with q1_agg (VERDICT r1: decimal text fails the hash).
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    // Distinct aggregation: audience stats per event type.
    // count(DISTINCT) plans as a four-phase HashAggregate chain with
    // two exchanges (verified via explain) — the one agg shape whose
    // shuffle doubles, worth owning a query for.
    "q_events_user_stats" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
        .orderBy("event_type")),

    "q_events_sessionize" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapped = ev
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          (col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
              SessionGapMinutes * 60L * 1000000L).cast("int"))
        .withColumn("session_seq",
          sum(col("new_session")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      gapped.groupBy(col("user_id"), col("session_seq"))
        .agg(
          count(lit(1)).as("n_events"),
          (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
            .as("duration_us"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
        .orderBy("user_id", "session_seq")
    }),

    // As-of enrichment: each purchase gets the same user's most recent
    // click at-or-before it (the "state at example time" join a
    // training pipeline uses to avoid label leakage). Timestamps ride
    // as epoch micros so both engines compare and emit identical
    // integers.
    "q_events_asof" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("value"))
      AsOf.joinAsOf(purchases, clicks, key = "user_id",
          leftTs = "ts_us", rightTs = "ts_us", tieBreak = "event_id",
          payload = Seq("event_id", "ts_us", "value"))
        .orderBy("event_id")
    }),

    // Banded temporal range join: each click gets the count/value of
    // the same user's views in the trailing 10 minutes (the feature
    // shape behind "activity in the last N minutes" training columns).
    // RangeJoin keeps this an equi-join on (user_id, time-bucket) —
    // the naive inequality join materializes every per-user pair
    // before filtering, O(|clicks|·|views|) per user at 100 TB.
    "q_events_range_join" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("v_ts_us"),
          col("event_id").as("v_event_id"), col("value").as("v_value"))
      RangeJoin.joinTrailingWindow(clicks, views, key = "user_id",
          leftTs = "ts_us", rightTs = "v_ts_us",
          windowUs = RangeWindowMinutes * 60L * 1000000L)
        .groupBy("event_id", "user_id", "ts_us")
        .agg(
          count(col("v_event_id")).as("n_views"),
          sum(col("v_value").cast("decimal(18,6)")).cast("double")
            .as("view_value"))
        .orderBy("event_id")
    }),

    // Tumbling-window aggregate — the batch face of the streaming
    // EventTimeOps.windowedAgg (same operator, no watermark in batch).
    "q_events_windowed" -> ((s, dir) =>
      graft.streaming.EventTimeOps.windowedAgg(
        Tables(s, dir, "events"), windowLen = "1 hour")
        .orderBy("win_start", "event_type")),

    // Sliding-window variant: 1-hour windows every 30 minutes (each
    // event in 2 windows; the overlap factor is the only shuffle
    // amplification).
    "q_events_windowed_sliding" -> ((s, dir) =>
      graft.streaming.EventTimeOps.slidingAgg(
        Tables(s, dir, "events"), "10 minutes", "1 hour", "30 minutes")
        .orderBy("win_start", "event_type")),

    // Ordered conversion funnel (view → click → purchase), earliest-
    // completion semantics: t1 = first view; t2 = first click AFTER
    // t1; t3 = first purchase AFTER t2; stages = how deep the user
    // got. The naive formulation is a chain of three dependent
    // aggregate-joins, which the planner expands into SIX exchanges
    // and six scans (each stage subtree is recomputed per reference).
    // Instead: filter to funnel events, ONE groupBy(user_id)
    // collecting each user's (ts, type) pairs, then the dependent
    // stage minima are array folds over the per-user collection —
    // min{ts: type=sᵢ, ts > tᵢ₋₁} is order-independent, so no sort is
    // needed and the whole funnel costs one scan + one exchange of
    // the stage-filtered events at any corpus size. Per-user state is
    // that user's funnel events — the same bound sessionization
    // carries. Users whose first stage never fires are dropped
    // (matching the relational LEFT-JOIN-from-stage-1 spec).
    "q_events_funnel" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val collected = ev
        .filter(col("event_type").isin(FunnelStages: _*))
        .select(col("user_id"), struct(unix_micros(col("ts")).as("ts_us"),
          col("event_type").as("et")).as("e"))
        .groupBy("user_id").agg(collect_list("e").as("evs"))
      def stageMin(prev: Column, stageName: String): Column =
        array_min(transform(
          filter(col("evs"), e =>
            e.getField("et") === stageName && e.getField("ts_us") > prev),
          e => e.getField("ts_us")))
      collected
        .withColumn("t1", stageMin(lit(Long.MinValue), FunnelStages(0)))
        .withColumn("t2", stageMin(col("t1"), FunnelStages(1)))
        .withColumn("t3", stageMin(col("t2"), FunnelStages(2)))
        .where(col("t1").isNotNull)
        .select(col("user_id"), col("t1"), col("t2"), col("t3"),
          (lit(1) + col("t2").isNotNull.cast("int") +
            col("t3").isNotNull.cast("int")).as("stages"))
        .orderBy("user_id")
    }),

    // Daily cohort retention: users grouped by first-active day, cell
    // (cohort_day, day_offset) counts users active that many days
    // later — the classic warehouse triangle. Single events scan: the
    // distinct (user, day) activity matrix takes one exchange, the
    // per-user cohort day rides a window on the SAME user partitioning
    // (not a self-join against a re-derived aggregate, which would
    // scan events twice), then one matrix-sized groupBy. At 100 TB
    // the shuffles carry the activity matrix (users × active-days),
    // never raw events.
    "q_events_retention" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val days = ev.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val byUser = Window.partitionBy("user_id")
      days
        .withColumn("cohort_day", min("day").over(byUser))
        .select(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("day_offset"))
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // Per-type z-score outlier flagging — the numeric-column health
    // check a feature pipeline runs before training. Two passes: group
    // stats from ORDER-INDEPENDENT decimal sums (sum, sum of squares —
    // Welford/stddev aggregates are sequence-dependent and not
    // engine-portable), then a broadcast join back and a narrow filter
    // |z| > threshold. The stats table is |event types| rows, so at
    // 100 TB this is one partial-aggregating scan + one scan-speed
    // filter; variance via (s2 − s1²/n)/(n−1) off exact sums.
    "q_events_outliers" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val stats = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,10)")).cast("double").as("s1"),
        sum((col("value") * col("value")).cast("decimal(28,10)"))
          .cast("double").as("s2"))
        // n = 1 would make the (n−1) variance denominator 0/0 = NaN,
        // and Spark's NaN-is-largest ordering lets NaN pass std > 0
        // while DuckDB's behavior at the same edge differs — drop
        // single-event types BEFORE the divide, in both engines.
        .filter(col("n") > 1)
        .select(col("event_type"), col("n"),
          (col("s1") / col("n")).as("mean"),
          sqrt(greatest(
            (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1),
            lit(0.0))).as("std"))
      ev.join(broadcast(stats), "event_type")
        .where(col("std") > 0)
        .withColumn("z", (col("value") - col("mean")) / col("std"))
        .where(abs(col("z")) > OutlierZ)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("z"), 6).as("z"))
        .orderBy("event_id")
    }),

    // Keyword extraction: top terms per doc by (tf DESC, df ASC) over
    // non-stopword tokens — rank-equivalent to tf-idf for a fixed doc
    // (idf is monotone-decreasing in df) but integer-only, so the
    // ranking is exactly portable with no transcendental rounding.
    // Scale shape: a document's term counts are formed inside its row
    // (TextAnalysis.termCounts, one native pass), so only (doc, token,
    // tf) pairs move — once, hashed by token. That one exchange serves
    // the exact (doc_id, token) merge (a repeated doc_id still sums)
    // and the df COUNT WINDOW, which is vocabulary-partitioned; the
    // per-doc rank runs partial+final WindowGroupLimit over the second
    // and last exchange, so it carries O(docs·k) rows.
    "q_text_keywords" -> ((s, dir) => {
      val tf = Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextAnalysis.termCounts(col("text"))).as("t"))
        .select(col("doc_id"), col("t.token").as("token"), col("t.tf").as("n"))
        .repartition(col("token"))
        .groupBy("doc_id", "token").agg(sum("n").as("tf"))
      val byDoc = Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("token"))
      tf.withColumn("df", count(lit(1)).over(Window.partitionBy("token")))
        .withColumn("rnk", row_number().over(byDoc))
        .filter(col("rnk") <= KeywordsPerDoc)
        .select(col("doc_id"), col("rnk"), col("token"), col("tf"), col("df"))
        .orderBy("doc_id", "rnk")
    }))

  /** Keywords kept per document (q_text_keywords; shared with oracle). */
  val KeywordsPerDoc = 5

  /** Ordered funnel stages (q_events_funnel; shared with oracle). */
  val FunnelStages = Seq("view", "click", "purchase")

  /** |z| threshold of the outlier flagger (q_events_outliers). */
  val OutlierZ = 2.5

  /** Top total-variation contributors reported by q_text_vocab_drift
    * (shared with its oracle). */
  val VocabDriftTopK = 50

  /** Profile head size of the capped-drift calibration — deliberately
    * SMALLER than the fixture vocabulary (~31 tokens) so the tail
    * actually folds and the bound is exercised, not vacuous. */
  val CappedDriftTopK = 10

  def oracleSql: Map[String, String] = Map(

    "q_events_windowed" -> """
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start,
        event_type, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""",

    "q_text_keywords" -> {
      val stops = graft.text.TextAnalysis.Stopwords
        .map(s => s"'$s'").mkString("(", ", ", ")")
      s"""WITH t AS (
           SELECT doc_id, unnest(${TextSql.tokens("text")}) AS token
           FROM documents),
         f AS (
           SELECT doc_id, token, count(*) AS tf FROM t
           WHERE token NOT IN $stops GROUP BY doc_id, token),
         d AS (SELECT token, count(*) AS df FROM f GROUP BY token),
         r AS (
           SELECT f.doc_id, f.token, f.tf, d.df,
             row_number() OVER (PARTITION BY f.doc_id
               ORDER BY f.tf DESC, d.df ASC, f.token) AS rnk
           FROM f JOIN d ON f.token = d.token)
       SELECT doc_id, rnk, token, tf, df FROM r
       WHERE rnk <= $KeywordsPerDoc ORDER BY doc_id, rnk"""
    },

    "q_text_topk_per_group" -> s"""
      WITH t AS (
        SELECT lang, unnest(${TextSql.tokens("text")}) AS token FROM documents),
      c AS (SELECT lang, token, count(*) AS cnt FROM t GROUP BY lang, token),
      r AS (
        SELECT lang, token, cnt,
          row_number() OVER (PARTITION BY lang
            ORDER BY cnt DESC, token) AS rnk
        FROM c)
      SELECT lang, token, cnt, rnk FROM r
      WHERE rnk <= $TopKPerGroup ORDER BY lang, rnk""",

    "q_text_vocab" -> s"""
      WITH toks AS (
        SELECT unnest(${TextSql.tokens("text")}) AS token FROM documents)
      SELECT token, count(*) AS cnt FROM toks
      GROUP BY token HAVING count(*) >= 5
      ORDER BY cnt DESC, token""",

    "q_text_vocab_drift" -> s"""
      WITH d AS (
        SELECT (${graft.text.TextSql.charPolyHash("text")} % 100 >=
                ${graft.dedup.DedupQueries.IncrementalSplitBoundary}) AS is_batch,
               text
        FROM documents),
      t AS (
        SELECT is_batch, unnest(${TextSql.tokens("text")}) AS token FROM d),
      c AS (
        SELECT token,
          count(*) FILTER (WHERE NOT is_batch) AS n_corpus,
          count(*) FILTER (WHERE is_batch) AS n_batch
        FROM t GROUP BY token),
      tot AS (
        SELECT greatest(count(*) FILTER (WHERE NOT is_batch), 1) AS tc,
               greatest(count(*) FILTER (WHERE is_batch), 1) AS tb
        FROM t)
      SELECT token, n_corpus, n_batch,
        round(CAST(n_corpus AS DOUBLE) / tc, 9) AS p_corpus,
        round(CAST(n_batch AS DOUBLE) / tb, 9) AS p_batch,
        round(abs(CAST(n_corpus AS DOUBLE) / tc
                  - CAST(n_batch AS DOUBLE) / tb), 9) AS abs_diff
      FROM c, tot
      ORDER BY abs_diff DESC, token LIMIT $VocabDriftTopK""",

    "q_text_vocab_drift_capped" -> s"""
      WITH d AS (
        SELECT (${graft.text.TextSql.charPolyHash("text")} % 100 >=
                ${graft.dedup.DedupQueries.IncrementalSplitBoundary}) AS is_batch,
               text
        FROM documents),
      t AS (
        SELECT is_batch, unnest(${TextSql.tokens("text")}) AS token FROM d),
      c AS (
        SELECT token,
          count(*) FILTER (WHERE NOT is_batch) AS nc,
          count(*) FILTER (WHERE is_batch) AS nb
        FROM t GROUP BY token),
      tot AS (
        SELECT greatest(sum(nc), 1) AS tc, greatest(sum(nb), 1) AS tb
        FROM c),
      r AS (
        SELECT token, nc, nb,
          row_number() OVER (ORDER BY nc DESC, token) AS rnk
        FROM c),
      k AS (
        SELECT CASE WHEN rnk <= $CappedDriftTopK AND nc > 0 THEN token
                    ELSE '${graft.pipeline.DriftGate.OtherToken}' END AS key,
               nc, nb
        FROM r),
      g AS (
        SELECT key,
          sum(abs(CAST(nc AS DECIMAL(38,0)) * tb
                  - CAST(nb AS DECIMAL(38,0)) * tc)) AS true_part,
          abs(sum(CAST(nc AS DECIMAL(38,0)) * tb
                  - CAST(nb AS DECIMAL(38,0)) * tc)) AS capped_part
        FROM k, tot GROUP BY key),
      f AS (SELECT sum(true_part) AS tn, sum(capped_part) AS cn FROM g)
      SELECT $CappedDriftTopK AS capped_k,
        round(CAST(tn AS DOUBLE) / (2.0 * tc * tb), 9) AS tvd_true,
        round(CAST(cn AS DOUBLE) / (2.0 * tc * tb), 9) AS tvd_capped,
        (cn <= tn) AS bounded
      FROM f, tot""",

    "q_join_enrich" -> """
      SELECT r_name, n_name,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
             AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name""",

    "q_events_user_stats" -> """
      SELECT event_type,
        COUNT(DISTINCT user_id) AS n_users,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      FROM events GROUP BY event_type ORDER BY event_type""",

    "q_events_sessionize" -> s"""
      WITH g AS (
        SELECT user_id, event_id, ts, value,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events),
      m AS (
        SELECT user_id, event_id, ts, value,
          CASE WHEN prev_ts IS NULL
                 OR epoch_us(ts) - epoch_us(prev_ts) > ${SessionGapMinutes * 60L * 1000000L}
               THEN 1 ELSE 0 END AS new_session
        FROM g),
      sess AS (
        SELECT user_id, ts, value,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM m)
      SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        COUNT(*) AS n_events,
        CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS BIGINT) AS duration_us,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      FROM sess GROUP BY user_id, session_seq
      ORDER BY user_id, session_seq""",

    // Join-then-rank formulation: fine as an oracle at sf0.01, exactly
    // the O(matches) shape the Spark side avoids. Tie-break (ts DESC,
    // event_id DESC) mirrors joinAsOf's (ts, tieBreak) ascending-last.
    "q_events_asof" -> """
      WITH l AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        FROM events WHERE event_type = 'purchase'),
      r AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
        FROM events WHERE event_type = 'click'),
      j AS (
        SELECT l.event_id, l.user_id, l.ts_us, l.value,
          r.event_id AS asof_event_id, r.ts_us AS asof_ts_us,
          r.value AS asof_value,
          row_number() OVER (PARTITION BY l.event_id
            ORDER BY r.ts_us DESC, r.event_id DESC) AS rn
        FROM l LEFT JOIN r
          ON l.user_id = r.user_id AND r.ts_us <= l.ts_us)
      SELECT event_id, user_id, ts_us, value,
        asof_event_id, asof_ts_us, asof_value
      FROM j WHERE rn = 1 ORDER BY event_id""",

    // Every covering window start: aligned to epoch like Spark's
    // window(), enumerated per event via generate_series over the
    // slide grid (len 3600 s, slide 1800 s, all in micros).
    "q_events_windowed_sliding" -> """
      WITH e AS (
        SELECT event_type, value, epoch_us(ts) AS us FROM events),
      w AS (
        SELECT event_type, value,
          unnest(generate_series(
            ((us - 3600000000 ) // 1800000000 + 1) * 1800000000,
            (us // 1800000000) * 1800000000,
            1800000000)) AS start_us
        FROM e)
      SELECT make_timestamp(start_us) AS win_start, event_type,
        count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      FROM w GROUP BY win_start, event_type
      ORDER BY win_start, event_type""",

    "q_events_retention" -> """
      WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      c AS (
        SELECT user_id, day,
          min(day) OVER (PARTITION BY user_id) AS cohort_day
        FROM days)
      SELECT cohort_day, datediff('day', cohort_day, day) AS day_offset,
        count(*) AS n_users
      FROM c GROUP BY cohort_day, day_offset
      ORDER BY cohort_day, day_offset""",

    "q_events_outliers" -> s"""
      WITH st AS (
        SELECT event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS s1,
          CAST(sum(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) AS s2
        FROM events GROUP BY event_type),
      m AS (
        SELECT event_type, s1 / n AS mean,
          sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), CAST(0 AS DOUBLE))) AS std
        FROM st WHERE n > 1)
      SELECT e.event_id, e.event_type, e.value,
        round((e.value - m.mean) / m.std, 6) AS z
      FROM events e JOIN m ON e.event_type = m.event_type
      WHERE m.std > 0 AND abs((e.value - m.mean) / m.std) > $OutlierZ
      ORDER BY e.event_id""",

    "q_events_funnel" -> s"""
      WITH s1 AS (
        SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
        WHERE event_type = '${FunnelStages(0)}' GROUP BY user_id),
      s2 AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = '${FunnelStages(1)}' AND epoch_us(e.ts) > s1.t1
        GROUP BY e.user_id),
      s3 AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = '${FunnelStages(2)}' AND epoch_us(e.ts) > s2.t2
        GROUP BY e.user_id)
      SELECT s1.user_id, t1, t2, t3,
        1 + CAST(t2 IS NOT NULL AS INT) + CAST(t3 IS NOT NULL AS INT) AS stages
      FROM s1
      LEFT JOIN s2 ON s1.user_id = s2.user_id
      LEFT JOIN s3 ON s1.user_id = s3.user_id
      ORDER BY s1.user_id""",

    // Spec statement of the banded range join: the plain inequality
    // LEFT JOIN the Spark side refuses to plan as a cartesian.
    "q_events_range_join" -> s"""
      WITH c AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us
        FROM events WHERE event_type = 'click'),
      v AS (
        SELECT user_id, epoch_us(ts) AS v_ts_us, event_id AS v_event_id,
          value AS v_value
        FROM events WHERE event_type = 'view')
      SELECT c.event_id, c.user_id, c.ts_us,
        count(v.v_event_id) AS n_views,
        CAST(sum(CAST(v.v_value AS DECIMAL(18,6))) AS DOUBLE) AS view_value
      FROM c LEFT JOIN v
        ON v.user_id = c.user_id
        AND v.v_ts_us > c.ts_us - ${RangeWindowMinutes * 60L * 1000000L}
        AND v.v_ts_us <= c.ts_us
      GROUP BY c.event_id, c.user_id, c.ts_us
      ORDER BY c.event_id""")
}
