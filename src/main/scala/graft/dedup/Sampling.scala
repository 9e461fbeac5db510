package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Token-budget sampling — the epoch-construction step between the
 * seeded shuffle deal ([[Dedup.shuffleDeal]]) and sequence packing
 * (q_text_pack): walk each source's documents in the deterministic
 * deal order and keep them while the source's running token total
 * stays within a per-source budget. This is how a pretraining run
 * takes "at most B tokens from each source, chosen reproducibly":
 * the kept set is a PREFIX of the deal order (token counts are
 * non-negative, so the running total is monotone), the same seed
 * reproduces it bit-for-bit, and a new seed re-deals which documents
 * make the cut.
 *
 * The reference semantic is a per-source running sum
 * ([[tokenBudgetFillByWindow]]): rank by ([[Dedup.shuffleKey]], id),
 * cumulative-sum token counts, keep rows with cumulative ≤ budget.
 * That formulation plans ONE window partition per source — at 100 TB
 * a dominant source (a web crawl is routinely more than half the
 * corpus) becomes a single task sorting half the corpus, which is a
 * scale-killer. [[tokenBudgetFill]] computes the identical answer as
 * a distributed prefix sum (equality pinned in SamplingSpec):
 *
 *   1. bucket each source's rows by key range into `chunks` fixed
 *      buckets and partial-aggregate per-(source, chunk) token
 *      totals — the result is ≤ sources·chunks rows at ANY corpus
 *      size, collected to the driver;
 *   2. prefix-sum those totals per source on the driver into each
 *      chunk's exclusive base offset, and PRUNE chunks whose base
 *      already exceeds the budget — beyond-budget data never enters
 *      the shuffle (with a truncating budget that is most of the
 *      corpus);
 *   3. broadcast-join the surviving (source, chunk, base) table and
 *      run the running sum per (source, chunk) partition — each
 *      window sorts ~n_source/chunks rows, so the largest sort
 *      shrinks with the chunk dial instead of growing with the
 *      largest source. cumulative = base + chunk-local running sum.
 *
 * Document token counts come from [[graft.text.TextAnalysis.tokenCount]]
 * (whitespace tokens, DuckDB mirror in TextSql), null text counting
 * as zero tokens.
 */
object Sampling {

  /**
   * Distributed per-source token-budget fill. Returns the kept rows
   * as (idCol, srcCol, n_tokens, cum_tokens) where `cum_tokens` is
   * the source's running total INCLUDING this row, in deal order.
   *
   * SOURCE-CARDINALITY contract: `srcCol` is a mixture-domain key
   * (tens to thousands of values — corpus families, crawls, buckets),
   * NOT an arbitrary per-row attribute: the driver holds one prefix
   * row per (source, chunk), so a per-domain/per-URL source column
   * would collect without bound. Enforced — the prefix collect is
   * capped at [[MaxPrefixRows]] and fails fast past it.
   *
   * @param seed   deal seed ([[Dedup.shuffleKey]]); same seed ⇒ same
   *               kept set, new seed ⇒ a genuine re-deal
   * @param budget per-source token budget (keep while running ≤ it)
   * @param chunks key-range buckets for the prefix-sum — the largest
   *               single sort is ~(largest source)/chunks rows; the
   *               driver holds ≤ sources·chunks total rows
   */
  def tokenBudgetFill(docs: DataFrame, srcCol: String, idCol: String,
      textCol: String, seed: Long, budget: Long,
      chunks: Int = 256): DataFrame =
    fillCounted(keyed(docs, srcCol, idCol, textCol, seed),
      srcCol, idCol, budget, chunks)

  /** [[tokenBudgetFill]] over PRE-COUNTED tokens (`tokensCol`) — the
    * face a standing curated table uses: its token counts were paid
    * at fold time, so the budget fill never touches text at all. */
  def tokenBudgetFillCounted(docs: DataFrame, srcCol: String,
      idCol: String, tokensCol: String, seed: Long, budget: Long,
      chunks: Int = 256): DataFrame =
    fillCounted(
      docs.select(col(idCol), col(srcCol),
        coalesce(col(tokensCol).cast("long"), lit(0L)).as("n_tokens"),
        Dedup.shuffleKey(col(idCol), seed).as("__key")),
      srcCol, idCol, budget, chunks)

  /** Cap on the driver-collected (source, chunk) prefix rows — ~4M
    * rows ≈ low hundreds of MB, far beyond any mixture-domain srcCol
    * (the contract) and far below an unbounded per-URL one. */
  val MaxPrefixRows: Int = 1 << 22

  private[graft] def fillCounted(keyedDocs: DataFrame, srcCol: String,
      idCol: String, budget: Long, chunks: Int,
      maxPrefixRows: Int = MaxPrefixRows): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    require(chunks > 0 && (chunks & (chunks - 1)) == 0,
      s"chunks must be a positive power of two, got $chunks")
    val spark = keyedDocs.sparkSession
    import spark.implicits._
    // materialize the narrow projection ONCE: both passes need
    // (id, source, n_tokens, key), and re-deriving it would scan (and
    // in the text-fed form, TOKENIZE) the full corpus twice —
    // tokenization dominates, the projection is ~tens of bytes/row
    // (disk-backed executor storage, spread across the cluster; at
    // 100 TB this is the difference between one text pass and two).
    // LAZY checkpoint (eager=false): the prefix collect below is the
    // first action and its map side computes every base partition (the
    // groupBy exchange drains the full input), so it materializes the
    // checkpoint as a side effect — eager=true spent a THIRD driver
    // action per budget-fill call on a separate materialization pass.
    // Completeness does not rest on that first action: when the local
    // checkpoint materializes, Spark computes any partition the action
    // left uncomputed (LocalRDDCheckpointData), so lazy mode stays
    // correct even if a later plan stops draining every partition.
    val base = keyedDocs
      .withColumn("__chunk", expr(s"__key div ${2147483648L / chunks}"))
      .localCheckpoint(false)
    // the driver holds one prefix row per (source, chunk): fine for a
    // mixture-domain srcCol (tens to thousands of sources), unbounded
    // for an arbitrary high-cardinality column (1M per-domain sources
    // × 256 chunks = 256M rows) — so the collect is CAPPED and fails
    // fast with the contract instead of silently exhausting the
    // driver. limit(cap + 1) bounds the fetch itself; at ≤ cap rows
    // the limited result IS the complete group set.
    val totals = base.groupBy(srcCol, "__chunk")
      .agg(sum("n_tokens").as("__t"))
      .limit(maxPrefixRows + 1)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    require(totals.length <= maxPrefixRows,
      s"tokenBudgetFill collects one (source, chunk) prefix row per " +
        s"group to the driver and found more than $maxPrefixRows: " +
        s"srcCol must be a low-cardinality mixture key (or lower chunks)")
    // exclusive prefix per source; keep a chunk only while its base
    // offset can still admit a row (base == budget still admits
    // zero-token rows, whose cumulative equals the base)
    val bases: Seq[(String, Long, Long)] = totals
      .groupBy(_._1).iterator.flatMap { case (s, rows) =>
        var acc = 0L
        rows.sortBy(_._2).iterator.map { case (_, c, t) =>
          val b = acc; acc += t; (s, c, b)
        }.filter(_._3 <= budget)
      }.toSeq
    val cls = bases.toDF(srcCol, "__chunk", "__base")
    val w = Window.partitionBy(srcCol, "__chunk")
      .orderBy(col("__key"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL-SAFE source equality: a null source is a valid per-source
    // budget group (the window form partitions it like any other);
    // a plain equi-join would silently drop every null-source row
    base.join(broadcast(cls),
        base(srcCol) <=> cls(srcCol) && base("__chunk") === cls("__chunk"))
      .drop(cls(srcCol)).drop(cls("__chunk"))
      .withColumn("cum_tokens", col("__base") + sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= budget)
      .select(col(idCol), col(srcCol), col("n_tokens"), col("cum_tokens"))
  }

  /** Reference formulation: one running-sum window per source —
    * semantically definitive, but a single task per source (the
    * scale-killer [[tokenBudgetFill]] exists to avoid). Used by
    * SamplingSpec to pin the distributed form's equality. */
  def tokenBudgetFillByWindow(docs: DataFrame, srcCol: String,
      idCol: String, textCol: String, seed: Long,
      budget: Long): DataFrame = {
    val w = Window.partitionBy(srcCol)
      .orderBy(col("__key"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed(docs, srcCol, idCol, textCol, seed)
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= budget)
      .select(col(idCol), col(srcCol), col("n_tokens"), col("cum_tokens"))
  }

  /** Shared narrow projection: id, source, token count, deal key —
    * ~24 bytes/row regardless of document length, so everything after
    * the scan shuffles counts, never text. */
  private def keyed(docs: DataFrame, srcCol: String, idCol: String,
      textCol: String, seed: Long): DataFrame =
    docs.select(
      col(idCol), col(srcCol),
      coalesce(graft.text.TextAnalysis.tokenCount(col(textCol)).cast("long"),
        lit(0L)).as("n_tokens"),
      Dedup.shuffleKey(col(idCol), seed).as("__key"))
}
