package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, DateType,
  DayTimeIntervalType, DecimalType, IntegerType, LongType, StringType, StructType,
  TimestampType, YearMonthIntervalType}

import graft.model.Cdc

/**
 * `field.type.overrides` (SURVEY.md §2.4; IidrToJdbcSinkTransform
 * .java:61-62,121-148,258-294): per-field forcing of STRING payload
 * values to `timestamp`, `date`, or `time`, with the reference's
 * pattern lists tried in order (UTC, strict).
 *
 * A non-blank value that matches no pattern is a DATA error, not a
 * silent null: [[failureReason]] yields the reason string the corrupt
 * channel records (the reference throws DataException → Connect DLQ;
 * here the reason routes the row to the corrupt branch, SURVEY.md
 * §2.7 W11).
 *
 * All coercions are compositions of codegen'd builtins
 * (`try_to_timestamp` + `coalesce`) — one whole-stage pass, no UDFs.
 * Casts take `DataType` objects, not type names, so building the
 * override plan (once per CDC micro-batch) parses no SQL text.
 * Divergence (documented): `SimpleDateFormat` ignores trailing
 * characters past its pattern (so `2026-01-01garbage` parses as a
 * date); Spark's formatter is strict and rejects it — strictly fewer
 * malformed values pass.
 */
object TypeOverrides {

  /** Legal override type names. `timestamp`/`date`/`time` mirror the
    * reference (IidrToJdbcSinkTransform.java:139-143); `interval_ym`,
    * `interval_ds` and `binary` are graft extensions covering the
    * declared §1.3 types Debezium delivers as strings (Oracle INTERVAL
    * literals / ISO-8601 durations, base64 bytes —
    * hack/sql/oracle-datatype-test.sql:33-34). */
  val SupportedTypes: Set[String] =
    Set("timestamp", "date", "time", "interval_ym", "interval_ds", "binary")

  /** The ONE reference pattern list (IidrToJdbcSinkTransform
    * .java:68-73), shared with Timestamps.coerceTimestamp. */
  private val TimestampPatterns = graft.functions.Timestamps.TimestampPatterns
  private val DatePatterns = Seq("yyyy-MM-dd")
  private val TimePatterns = Seq("HH:mm:ss.SSS", "HH:mm:ss")

  /**
   * Parse `field:type,field:type` config (IidrToJdbcSinkTransform
   * .java:121-148): same validation, same failure modes — a malformed
   * pair or unsupported type fails CONFIGURATION, never a record.
   */
  def parseConfig(config: String): Map[String, String] = {
    val c = Option(config).map(_.trim).getOrElse("")
    if (c.isEmpty) Map.empty
    else c.split(",").map(_.trim).filter(_.nonEmpty).map { pair =>
      pair.split(":", 2) match {
        case Array(f, t) =>
          val (field, tpe) = (f.trim, t.trim.toLowerCase)
          require(SupportedTypes.contains(tpe),
            s"Unsupported type '$tpe' for field '$field'. " +
              s"Supported types: ${SupportedTypes.toSeq.sorted.mkString(", ")}")
          field -> tpe
        case _ => throw new IllegalArgumentException(
          s"Invalid field.type.overrides entry: '$pair'. " +
            "Expected format: field_name:type")
      }
    }.toMap
  }

  /** Spark-side type an override materializes as. `time` stays a
    * canonical `HH:mm:ss.SSS` STRING — Spark has no TimeType
    * (SURVEY.md §7.3); the JDBC bind casts at the edge (W7). */
  def sparkType(typeName: String): DataType = typeName match {
    case "timestamp" => TimestampType
    case "date" => DateType
    case "time" => StringType
    case "interval_ym" => YearMonthIntervalType()
    case "interval_ds" => DayTimeIntervalType()
    case "binary" => BinaryType
    case t => throw new IllegalArgumentException(s"Unsupported type override: $t")
  }

  /** Coerced value: null for null/blank input (IidrToJdbcSinkTransform
    * .java:272-274), null for unparseable (pair with [[failureReason]]
    * to distinguish), else the typed value. */
  def coerce(raw: Column, typeName: String): Column = {
    val s = nullif(trim(raw), lit(""))
    typeName match {
      case "timestamp" =>
        coalesce(TimestampPatterns.map(p => try_to_timestamp(s, lit(p))): _*)
      case "date" =>
        coalesce(DatePatterns.map(p => try_to_timestamp(s, lit(p))): _*).cast(DateType)
      case "time" =>
        date_format(
          coalesce(TimePatterns.map(p => try_to_timestamp(s, lit(p))): _*),
          "HH:mm:ss.SSS")
      case "interval_ym" => intervalYm(s)
      case "interval_ds" => intervalDs(s)
      case "binary" =>
        // strict base64: unbase64 is lenient about garbage, so gate on
        // shape (canonical alphabet + padding) to keep "unparseable →
        // null" semantics consistent with the temporal ladder. \z (not
        // $) anchors at the ABSOLUTE end — Java's $ matches before a
        // final line terminator, which would let a newline-tailed
        // value through the alphabet check — and length(s) > 0 makes
        // "blank → null" explicit like every other branch (nullif
        // already nulls the exact-blank case; this keeps the gate
        // self-evidently non-empty rather than relying on it)
        when(s.rlike("^[A-Za-z0-9+/]*={0,2}\\z") &&
          length(s) % 4 === 0 && length(s) > 0,
          unbase64(s))
      case t => throw new IllegalArgumentException(s"Unsupported type override: $t")
    }
  }

  /**
   * INTERVAL YEAR TO MONTH from either wire form: the Oracle literal
   * `[+|-]y-m` (oracle-datatype-test.sql:33) or the ISO-8601 period
   * Debezium's `io.debezium.data.Interval` emits (`P1Y2M0DT0H0M0S` —
   * trailing zero D/T parts tolerated, any nonzero sub-month part
   * rejects). Sign applies to the whole interval.
   *
   * Component bounds AND an exact value guard are part of the gate,
   * not an afterthought: an unbounded `\d+` would let a corrupted
   * field reach make_ym_interval and throw under ANSI mode — killing
   * the whole batch before DLQ routing — and would silently normalize
   * impossible literals (`1-45` → 4-9) that no real source emits.
   * Years ≤ 9 digits (covers Spark's full YearMonthIntervalType
   * domain: ±178956970-8, i.e. Int.MinValue..MaxValue total months),
   * literal months 0-11, ISO months ≤ 4 digits; a bigint total-months
   * check rejects anything outside the Int range (sign-aware — the
   * negative domain reaches one month further), so [[JdbcApply
   * .jdbcValue]]'s `y-m` serialization round-trips for EVERY
   * representable Period and an out-of-domain literal coerces to null
   * (+ reason) instead of throwing.
   */
  private def intervalYm(s: Column): Column = {
    val sign = when(s.rlike("^-"), lit(-1)).otherwise(lit(1))
    val b = regexp_replace(s, "^[+-]", "")
    // |total months| bound: 2^31-1 for +, 2^31 for - (Int.MinValue)
    val maxMonths = when(sign === -1, lit(2147483648L)).otherwise(lit(2147483647L))
    def gated(y: Column, m: Column): Column =
      when(y.cast(LongType) * 12 + m.cast(LongType) <= maxMonths,
        make_ym_interval(sign * y.cast(IntegerType), sign * m.cast(IntegerType)))
    val oracle = when(b.rlike("^\\d{1,9}-(\\d|1[01])$"),
      gated(regexp_extract(b, "^(\\d+)-(\\d+)$", 1),
        regexp_extract(b, "^(\\d+)-(\\d+)$", 2)))
    val iso = when(
      b.rlike("^P(\\d{1,9}Y)?(\\d{1,4}M)?(0+D)?(T0+H(0+M)?(0+(\\.0+)?S)?)?$") &&
        b.rlike("[YM]"),
      gated(part(b, "^P(\\d+)Y"), part(b, "^P(?:\\d+Y)?(\\d+)M")))
    coalesce(oracle, iso)
  }

  /**
   * INTERVAL DAY TO SECOND from either wire form: the Oracle literal
   * `[+|-]d h:m:s[.f]` (oracle-datatype-test.sql:34) or the ISO-8601
   * duration (`P0Y0M1DT2H3M4.5S` / `PT26H` — leading zero Y/M parts
   * tolerated, nonzero ones reject). Sign applies to the whole
   * interval.
   *
   * Bounds (same rationale as [[intervalYm]]): literal hours 0-23 and
   * minutes/seconds 0-59 (an impossible `0 99:00:00` must reject, not
   * normalize); days ≤ 9 digits (covers Spark's full
   * DayTimeIntervalType domain: ±106751991 days 04:00:54.775807/8,
   * i.e. Long.MinValue..MaxValue microseconds) and ISO hours/minutes
   * ≤ 6 digits, seconds ≤ 9 digits. An exact decimal total-seconds
   * check (sign-aware — the negative domain reaches one microsecond
   * further) rejects anything outside the int64-microsecond range, so
   * make_dt_interval can never throw on a gated value and [[JdbcApply
   * .jdbcValue]]'s `d hh:mm:ss.ffffff` serialization round-trips for
   * EVERY representable Duration.
   */
  private def intervalDs(s: Column): Column = {
    val sign = when(s.rlike("^-"), lit(-1)).otherwise(lit(1))
    val b = regexp_replace(s, "^[+-]", "")
    // |total seconds| bound: Long.MaxValue/-MinValue micros, exact decimal
    val maxSecs = when(sign === -1,
      lit(new java.math.BigDecimal("9223372036854.775808")))
      .otherwise(lit(new java.math.BigDecimal("9223372036854.775807")))
    def gated(d: Column, h: Column, mi: Column, sec: Column): Column = {
      val secDec = sec.cast(DecimalType(18, 6))
      val tot = d.cast(DecimalType(20, 0)) * 86400 + h.cast(DecimalType(20, 0)) * 3600 +
        mi.cast(DecimalType(20, 0)) * 60 + secDec
      when(tot <= maxSecs,
        make_dt_interval(sign * d.cast(IntegerType), sign * h.cast(IntegerType),
          sign * mi.cast(IntegerType), sign.cast(DecimalType(18, 6)) * secDec))
    }
    val oraRe = "^(\\d{1,9}) ([01]?\\d|2[0-3]):([0-5]?\\d):([0-5]?\\d(?:\\.\\d{1,6})?)$"
    val oracle = when(b.rlike(oraRe),
      gated(regexp_extract(b, oraRe, 1), regexp_extract(b, oraRe, 2),
        regexp_extract(b, oraRe, 3), regexp_extract(b, oraRe, 4)))
    val iso = when(
      b.rlike("^P(0+Y)?(0+M)?(\\d{1,9}D)?" +
        "(T(\\d{1,6}H)?(\\d{1,6}M)?(\\d{1,9}(\\.\\d{1,6})?S)?)?$") &&
        b.rlike("\\d+D|T\\d"),
      gated(part(b, "^P(?:0+Y)?(?:0+M)?(\\d+)D"), part(b, "T(\\d+)H"),
        part(b, "T(?:\\d+H)?(\\d+)M"),
        coalesce(
          nullif(regexp_extract(b, "(\\d+(?:\\.\\d+)?)S", 1), lit(""))
            .cast(DecimalType(18, 6)),
          lit(java.math.BigDecimal.ZERO))))
    coalesce(oracle, iso)
  }

  /** Optional integer regex group: 0 when the group is absent. */
  private def part(b: Column, re: String): Column =
    coalesce(nullif(regexp_extract(b, re, 1), lit("")).cast(IntegerType), lit(0))

  /** A normalized CDC frame with override failures marked corrupt:
    * `corrupt_reason` gains [[failureReason]] for each overridden field
    * of a row whose table's PINNED schema declares the field STRING —
    * a same-named numeric field on another table must parse under ITS
    * type, not the override (the reference SMT coerces only string
    * values). Inferred-schema tables are never marked: their string
    * fields coerce best-effort without the corrupt route. */
  def markFailures(df: DataFrame, tableSchemas: Map[String, StructType],
      overrides: Map[String, String]): DataFrame = {
    val reasons = for {
      (table, schema) <- tableSchemas.toSeq.sortBy(_._1)
      (f, t) <- overrides.toSeq.sortBy(_._1)
      if schema.fields.exists(sf => sf.name == f && sf.dataType == StringType)
    } yield when(col(Cdc.Cols.TargetTable) === table,
      failureReason(get_json_object(col(Cdc.Cols.ValueJson), s"$$.$f"), t))
    if (reasons.isEmpty) df
    else df.withColumn(Cdc.Cols.CorruptReason, coalesce(col(Cdc.Cols.CorruptReason) +: reasons: _*))
  }

  /** Reason string when a NON-blank value matches no pattern (mirrors
    * the reference's DataException text, IidrToJdbcSinkTransform
    * .java:292-294); null when the value is blank or coercible. */
  def failureReason(raw: Column, typeName: String): Column = {
    val s = nullif(trim(raw), lit(""))
    when(s.isNotNull && coerce(raw, typeName).isNull,
      concat(lit("Cannot parse '"), s, lit(s"' as $typeName")))
  }
}
