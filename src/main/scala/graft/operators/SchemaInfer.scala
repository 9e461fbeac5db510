package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Runtime schema inference for undeclared tables (SURVEY.md §2.5 C1;
 * IidrToJdbcSinkTransform.java:299-320): when no pinned StructType is
 * configured, derive one from the JSON payloads themselves, then clamp
 * every field to the reference SMT's value-type ladder — integer →
 * INT64, floating → FLOAT64, boolean → BOOLEAN, anything else
 * (strings, nulls, nested objects/arrays) → STRING.
 *
 * Shape: ONE bounded driver job — `limit(sampleSize)` non-null payloads
 * feed Spark's own JSON inference (`spark.read.json` over an in-memory
 * dataset), so the cost is independent of batch size. The reference
 * infers per record because Connect hands it one record at a time; a
 * batch engine amortizes to a sample, trading per-record adaptivity
 * (which the reference only uses on the FIRST record of a table anyway)
 * for a plan-time constant schema that codegen can specialize.
 *
 * Divergence (documented): a field whose sampled values are nested
 * JSON clamps to STRING like the reference's fallback, but `from_json`
 * then yields null for it rather than a stringified object.
 */
object SchemaInfer {

  val DefaultSampleSize = 1000

  /** One field-level difference between a pinned and an observed
    * schema: kind ∈ added | removed | type_changed. */
  final case class Drift(field: String, kind: String,
      pinnedType: Option[String], observedType: Option[String])

  /**
   * Schema-DRIFT report: what a freshly [[infer]]red schema says about
   * the pinned one — the registry-drift alarm a CDC consumer raises
   * before auto-evolve acts (a new upstream column is `added`; a
   * column gone from the wire is `removed` — which auto-evolve must
   * NOT drop, SURVEY §2.7 W9's add-only contract; a type flip is
   * `type_changed` and needs a human). Pure schema-vs-schema
   * comparison, case-sensitive on purpose: identifier-case policy is
   * the routing layer's job (T3), and masking a case change here
   * would hide real wire drift.
   */
  def drift(pinned: StructType, observed: StructType): Seq[Drift] = {
    val p = pinned.fields.map(f => f.name -> f.dataType).toMap
    val o = observed.fields.map(f => f.name -> f.dataType).toMap
    val added = observed.fields.collect {
      case f if !p.contains(f.name) =>
        Drift(f.name, "added", None, Some(f.dataType.simpleString))
    }
    val removed = pinned.fields.collect {
      case f if !o.contains(f.name) =>
        Drift(f.name, "removed", Some(f.dataType.simpleString), None)
    }
    val changed = pinned.fields.collect {
      case f if o.contains(f.name) && o(f.name) != f.dataType =>
        Drift(f.name, "type_changed", Some(f.dataType.simpleString),
          Some(o(f.name).simpleString))
    }
    (added ++ removed ++ changed).toIndexedSeq.sortBy(d => (d.field, d.kind))
  }

  /** The SMT's inferSchema ladder over Spark inferred types. */
  private def ladder(dt: DataType): DataType = dt match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case FloatType | DoubleType => DoubleType
    case _: DecimalType => DoubleType // prefersDecimal off ⇒ unreachable; clamp anyway
    case BooleanType => BooleanType
    case _ => StringType // String, null-only, nested, array → fallback
  }

  /** Infer the value schema for `jsonCol` from a bounded sample of
    * non-null payloads; empty/all-null input → empty struct (inference
    * over an empty sample yields zero fields — no pre-check job).
    *
    * The sample is DETERMINISTIC: a bare `limit` takes whichever
    * partitions answer first, so a field with mixed JSON types could
    * infer differently between micro-batches — and with autoCreate the
    * first batch pins the DDL type. Ordering by the stream position
    * (`offset`, when the frame carries one — the CDC apply path always
    * does) with the payload as tie-break (offsets restart per Kafka
    * partition, so offset alone leaves the cut ambiguous), or by the
    * payload alone otherwise, makes reruns and restarts infer the same
    * schema from the same data. The payload-order fallback is biased
    * toward lexicographically small payloads — acceptable for a
    * TYPE sample, where determinism matters more than uniformity. */
  def infer(spark: SparkSession, df: DataFrame, jsonCol: String,
      sampleSize: Int = DefaultSampleSize): StructType = {
    val orderKeys =
      if (df.columns.contains("offset")) Seq(col("offset"), col(jsonCol))
      else Seq(col(jsonCol))
    val sample = df.filter(col(jsonCol).isNotNull)
      .orderBy(orderKeys: _*)
      .limit(sampleSize)       // TakeOrdered — one bounded job
      .select(col(jsonCol))
      .as(Encoders.STRING)
    inferSample(spark, sample)
  }

  /** Spark's JSON inference over an already-drawn sample (one job),
    * clamped to the ladder: [[infer]]'s second half. */
  def inferSample(spark: SparkSession, sample: Dataset[String]): StructType =
    StructType(spark.read.json(sample).schema.fields
      .filterNot(_.name == "_corrupt_record")
      .map(f => StructField(f.name, ladder(f.dataType), nullable = true)))

  /** [[inferPerTable]]'s result: a schema per table with a payload, and
    * every value of the table column the frame carries. */
  final case class PerTable(schemas: Map[String, StructType], present: Set[Option[String]])

  /** [[infer]] for each of `tables` over the rows `tableCol` routes to
    * it, in ONE narrow job over a single partition: it draws each
    * table's sample (the first `sampleSize` non-null payloads by
    * (`offset`, payload), [[infer]]'s own) and one row of every other
    * table column value, so the caller also learns what the frame
    * carries. Then one inference job per table with a payload. `df`
    * must carry an `offset` column. */
  def inferPerTable(df: DataFrame, tableCol: String, jsonCol: String,
      tables: Seq[String], sampleSize: Int = DefaultSampleSize): PerTable = {
    val (t, json) = (col(tableCol), col(jsonCol))
    val rows = df.coalesce(1)
      .withColumn("__rn", row_number().over(Window.partitionBy(t)
        .orderBy(json.isNull, col("offset"), json)))
      .filter(col("__rn") <= when(t.isin(tables: _*), sampleSize).otherwise(1))
      .select(t, json).collect()
    val schemas = rows.filter(r => !r.isNullAt(1) && tables.contains(r.getString(0)))
      .groupBy(_.getString(0)).map { case (table, sample) =>
        table -> inferSample(df.sparkSession,
          df.sparkSession.createDataset(sample.map(_.getString(1)).toSeq)(Encoders.STRING))
      }
    PerTable(schemas, rows.map(r => Option(r.getString(0))).toSet)
  }
}
