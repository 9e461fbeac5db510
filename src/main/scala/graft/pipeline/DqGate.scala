package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Declarative data-quality gate: row-level rules (a violation
 * predicate per rule) plus an optional key-uniqueness rule, compiled
 * into counting aggregates over ONE scan and unpivoted into
 * (constraint, violations, pass) rows. `ProfileQueries.q_dq_orders`
 * is the batch face; [[collectVerdicts]] is the per-micro-batch step
 * — `EventTimeOps.persistedBatches` around it (or the composed
 * `IngestStream.gated` stack) hands the caller the batch plus its
 * verdicts so a failing batch can be QUARANTINED (written aside for
 * triage), not silently dropped — at ingest scale a bad upstream
 * deploy shows up as a run of failing batches, and the quarantine is
 * the evidence.
 *
 * Scale shape: the verdict pass is a single aggregation whose
 * exchange carries one partial row per partition (the uniqueness rule
 * adds the one distinct-count Expand, same trade as the batch gate);
 * the collected verdict is |rules| rows on the driver — never data.
 */
object DqGate {

  /** One row-level rule: `violationWhen` true ⇒ that row violates. */
  final case class Rule(name: String, violationWhen: Column)

  /** Violation predicate from a PASS predicate, counting NULL as a
    * violation (`x BETWEEN a AND b` is null for null x — a range rule
    * that silently passes nulls is a trap; rules that want to exempt
    * nulls say so with an explicit isNull disjunct). */
  def notSatisfied(passes: Column): Column = !(passes <=> lit(true))

  /** One rule's outcome for a batch. */
  final case class Verdict(constraint: String, violations: Long, pass: Boolean)

  /** Verdict frame for `df`: (constraint, violations, pass), one scan,
    * ordered by constraint name. `uniqueKey = Some((ruleName, col))`
    * adds a duplicate-count rule. */
  def verdicts(df: DataFrame, rules: Seq[Rule],
      uniqueKey: Option[(String, String)] = None): DataFrame = {
    require(rules.nonEmpty || uniqueKey.nonEmpty, "no rules given")
    val allNames = rules.map(_.name) ++ uniqueKey.map(_._1)
    require(allNames.distinct.size == allNames.size,
      s"duplicate rule names: ${allNames.diff(allNames.distinct).distinct.mkString(", ")}")
    // coalesce: sum over an EMPTY batch is NULL, and a gate that
    // answers a no-data micro-batch with NULL verdicts kills the
    // stream at the collect — zero rows means zero violations
    val ruleAggs = rules.map(r =>
      coalesce(sum(when(r.violationWhen, 1L).otherwise(0L)), lit(0L))
        .as(s"__v_${r.name}"))
    // duplicates among NON-null keys: a null key is the not-null
    // rule's finding, not a duplicate of other nulls
    val uniqAggs = uniqueKey.toSeq.map { case (name, c) =>
      (count(col(c)) - count_distinct(col(c))).as(s"__v_$name")
    }
    val aggs = ruleAggs ++ uniqAggs
    // explode-unpivot over the single aggregate row — a union of
    // per-rule selects would re-scan the table once per rule
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(allNames.map { n =>
          struct(lit(n).as("constraint"), col(s"__v_$n").as("violations"),
            (col(s"__v_$n") === 0L).as("pass"))
        }: _*)).as("r"))
      .select("r.*")
      .orderBy("constraint")
  }

  /** [[verdicts]] collected to the driver as [[Verdict]]s — the
    * per-micro-batch step of the streaming gate and the composed
    * ingest stack. */
  def collectVerdicts(df: DataFrame, rules: Seq[Rule],
      uniqueKey: Option[(String, String)] = None): Seq[Verdict] =
    verdicts(df, rules, uniqueKey).collect()
      .map(r => Verdict(r.getString(0), r.getLong(1), r.getBoolean(2)))
      .toSeq
}
