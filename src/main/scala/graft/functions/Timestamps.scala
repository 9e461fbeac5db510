package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, StringType}

/**
 * Temporal coercion operators (SURVEY.md §2.4 T1/T2).
 *
 * All of these are compositions of codegen'd builtins
 * (`try_to_timestamp` + `coalesce`), mirroring the reference's
 * try-patterns-in-order loops declaratively so Catalyst can constant-
 * fold and the whole chain stays in one codegen stage. Casts take
 * `DataType` objects, not type names: `Column.cast(String)` runs the
 * SQL type parser on every call, and each CDC micro-batch builds these
 * columns anew.
 */
object Timestamps {

  /**
   * A_TIMSTAMP → ISO-8601 (TimestampConverter.java:70-120).
   *
   * Input format `yyyy-MM-dd HH:mm:ss.SSSSSSSSSSSS` — up to 12
   * fractional digits. The reference pads/truncates the fraction to 9
   * (nanos); Spark timestamps are microseconds, so this engine
   * truncates to 6 and always emits a 6-digit fraction — documented
   * divergence (SURVEY.md §7.4). The timestamp is interpreted as wall
   * time in the configured zone and emitted with that zone's offset
   * suffix (e.g. `+08:00`), matching the reference's
   * `OffsetDateTime.toString` semantics for fixed-offset zones.
   */
  def iidrTimestampToIso(raw: Column, zoneOffset: String): Column = {
    val s = trim(raw)
    val datePart = substring(s, 1, 19)
    val frac6 = rpad(
      when(length(s) >= 21, substring(s, 21, 6)).otherwise(lit("")), 6, "0")
    val parsed = try_to_timestamp(
      concat(datePart, lit("."), frac6),
      lit("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    when(parsed.isNotNull,
      concat(date_format(parsed, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), lit(zoneOffset)))
  }

  /**
   * A_TIMSTAMP → ISO-8601 under a NAMED zone (TimestampConverter
   * .java:32-62,70-89): the wall time is interpreted in `timezone` and
   * emitted with that zone's offset AT THAT INSTANT, so DST zones get
   * the per-date offset the reference's `LocalDateTime.atZone` yields.
   * Zone resolution mirrors the reference's `parseTimezone`: blank →
   * UTC, `±HH:MM` → fixed offset, unknown name → UTC (resolved on the
   * driver, so a bad zone can never fail at runtime).
   *
   * Documented divergences (SURVEY.md §7.4): the fraction is always 6
   * digits and the offset always `±HH:MM` (never `Z` / bare seconds);
   * for a wall time inside a DST overlap java.time keeps the
   * pre-transition offset, and inside a DST gap the emitted wall time
   * stays as written (same instant as the reference, which shifts the
   * wall forward instead). Assumes the session time zone is UTC (as
   * every entry point here sets).
   */
  def iidrTimestampToIsoZoned(raw: Column, timezone: String): Column = {
    val zone = resolveZone(timezone)
    val s = trim(raw)
    val datePart = substring(s, 1, 19)
    val frac6 = rpad(
      when(length(s) >= 21, substring(s, 21, 6)).otherwise(lit("")), 6, "0")
    val parsed = try_to_timestamp(
      concat(datePart, lit("."), frac6),
      lit("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    // With a UTC session, `parsed` holds the wall clock as a UTC
    // instant; to_utc_timestamp re-reads that wall clock in `zone`, so
    // the difference is exactly the zone's UTC offset at that instant
    // (whole minutes — the fractional part cancels before the floor).
    val offSec = unix_timestamp(parsed) -
      unix_timestamp(to_utc_timestamp(parsed, zone))
    val mins = floor(abs(offSec) / 60).cast(LongType)
    val off = concat(
      when(offSec < 0, lit("-")).otherwise(lit("+")),
      lpad(floor(mins / 60).cast(LongType).cast(StringType), 2, "0"), lit(":"),
      lpad((mins % 60).cast(StringType), 2, "0"))
    when(parsed.isNotNull,
      concat(date_format(parsed, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), off))
  }

  /** `parseTimezone` mirror (TimestampConverter.java:37-62): blank or
    * unresolvable zones fall back to UTC instead of failing the job. */
  private[graft] def resolveZone(tz0: String): String = {
    val tz = Option(tz0).map(_.trim).getOrElse("")
    if (tz.isEmpty) "UTC"
    else try { java.time.ZoneId.of(tz); tz }
    catch { case _: java.time.DateTimeException => "UTC" }
  }

  /** THE timestamp pattern list, verbatim from the reference
    * (TIMESTAMP_PATTERNS, IidrToJdbcSinkTransform.java:68-73 — most
    * specific first, 'T' separators before space separators, and NO
    * bare-date fallback: the reference's coerceValue throws for a
    * date-only value under a timestamp target; [[coerceDate]] is the
    * date path). Shared with TypeOverrides so the two coercion
    * surfaces can never disagree. */
  val TimestampPatterns: Seq[String] = Seq(
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd HH:mm:ss")

  /**
   * Multi-pattern string → timestamp (IidrToJdbcSinkTransform.java:272-294):
   * try each pattern, first hit wins; empty/blank → null.
   */
  def coerceTimestamp(raw: Column): Column = {
    val s = nullif(trim(raw), lit(""))
    coalesce(TimestampPatterns.map(p => try_to_timestamp(s, lit(p))): _*)
  }

  /** String → date: reference truncates to the first 10 chars (JdbcWriter.java:242-268). */
  def coerceDate(raw: Column): Column =
    try_to_timestamp(substring(nullif(trim(raw), lit("")), 1, 10), lit("yyyy-MM-dd"))
      .cast(DateType)

  /**
   * String → TIME: Spark has no TimeType (SURVEY.md §7.3) — normalize
   * to a canonical `HH:mm:ss` string, cast to target type at the JDBC
   * bind (mirrors W7's type-aware binding).
   */
  def coerceTime(raw: Column): Column = {
    val s = nullif(trim(raw), lit(""))
    date_format(try_to_timestamp(concat(lit("1970-01-01 "), substring(s, 1, 8)),
      lit("yyyy-MM-dd HH:mm:ss")), "HH:mm:ss")
  }
}
