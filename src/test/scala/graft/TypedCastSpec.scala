package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Timestamps
import graft.operators.TypeOverrides

/** The normalize and override builders cast to `DataType` objects, so
  * building their plans parses no type string (every micro-batch of
  * the stream builds both). Pinned against the same builders written
  * with type-name casts (`Column.cast(String)`, which runs the SQL
  * type parser per call): each pair of plans is `sameResult` and
  * yields the same rows. */
class TypedCastSpec extends SparkSpec {
  import spark.implicits._

  /** The builders that cast by type name. */
  private object ByName {
    def isoZoned(raw: Column, timezone: String): Column = {
      val zone = Timestamps.resolveZone(timezone)
      val s = trim(raw)
      val frac6 = rpad(
        when(length(s) >= 21, substring(s, 21, 6)).otherwise(lit("")), 6, "0")
      val parsed = try_to_timestamp(
        concat(substring(s, 1, 19), lit("."), frac6), lit("yyyy-MM-dd HH:mm:ss.SSSSSS"))
      val offSec = unix_timestamp(parsed) - unix_timestamp(to_utc_timestamp(parsed, zone))
      val mins = floor(abs(offSec) / 60).cast("long")
      val off = concat(
        when(offSec < 0, lit("-")).otherwise(lit("+")),
        lpad(floor(mins / 60).cast("long").cast("string"), 2, "0"), lit(":"),
        lpad((mins % 60).cast("string"), 2, "0"))
      when(parsed.isNotNull,
        concat(date_format(parsed, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), off))
    }

    def coerceDate(raw: Column): Column =
      try_to_timestamp(substring(nullif(trim(raw), lit("")), 1, 10), lit("yyyy-MM-dd"))
        .cast("date")

    def coerce(raw: Column, typeName: String): Column = {
      val s = nullif(trim(raw), lit(""))
      typeName match {
        case "date" => coalesce(try_to_timestamp(s, lit("yyyy-MM-dd"))).cast("date")
        case "interval_ym" => intervalYm(s)
        case "interval_ds" => intervalDs(s)
      }
    }

    def failureReason(raw: Column, typeName: String): Column = {
      val s = nullif(trim(raw), lit(""))
      when(s.isNotNull && coerce(raw, typeName).isNull,
        concat(lit("Cannot parse '"), s, lit(s"' as $typeName")))
    }

    private def intervalYm(s: Column): Column = {
      val sign = when(s.rlike("^-"), lit(-1)).otherwise(lit(1))
      val b = regexp_replace(s, "^[+-]", "")
      val maxMonths = when(sign === -1, lit(2147483648L)).otherwise(lit(2147483647L))
      def gated(y: Column, m: Column): Column =
        when(y.cast("bigint") * 12 + m.cast("bigint") <= maxMonths,
          make_ym_interval(sign * y.cast("int"), sign * m.cast("int")))
      val oracle = when(b.rlike("^\\d{1,9}-(\\d|1[01])$"),
        gated(regexp_extract(b, "^(\\d+)-(\\d+)$", 1),
          regexp_extract(b, "^(\\d+)-(\\d+)$", 2)))
      val iso = when(
        b.rlike("^P(\\d{1,9}Y)?(\\d{1,4}M)?(0+D)?(T0+H(0+M)?(0+(\\.0+)?S)?)?$") &&
          b.rlike("[YM]"),
        gated(part(b, "^P(\\d+)Y"), part(b, "^P(?:\\d+Y)?(\\d+)M")))
      coalesce(oracle, iso)
    }

    private def intervalDs(s: Column): Column = {
      val sign = when(s.rlike("^-"), lit(-1)).otherwise(lit(1))
      val b = regexp_replace(s, "^[+-]", "")
      val maxSecs = when(sign === -1,
        lit(new java.math.BigDecimal("9223372036854.775808")))
        .otherwise(lit(new java.math.BigDecimal("9223372036854.775807")))
      def gated(d: Column, h: Column, mi: Column, sec: Column): Column = {
        val secDec = sec.cast("decimal(18,6)")
        val tot = d.cast("decimal(20,0)") * 86400 + h.cast("decimal(20,0)") * 3600 +
          mi.cast("decimal(20,0)") * 60 + secDec
        when(tot <= maxSecs,
          make_dt_interval(sign * d.cast("int"), sign * h.cast("int"),
            sign * mi.cast("int"), sign.cast("decimal(18,6)") * secDec))
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
              .cast("decimal(18,6)"),
            lit(java.math.BigDecimal.ZERO))))
      coalesce(oracle, iso)
    }

    private def part(b: Column, re: String): Column =
      coalesce(nullif(regexp_extract(b, re, 1), lit("")).cast("int"), lit(0))
  }

  private def assertSame(in: DataFrame, typed: Column, byName: Column, what: String): Unit = {
    val (a, b) = (in.select(typed.as("v")), in.select(byName.as("v")))
    assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed), s"$what: analyzed")
    assert(a.queryExecution.optimizedPlan.sameResult(b.queryExecution.optimizedPlan),
      s"$what: optimized")
    assert(a.collect().toSeq == b.collect().toSeq, s"$what: rows")
  }

  test("normalize's timestamp casts plan as the type-name casts did") {
    val in = Seq("2026-01-15 10:00:00.000000000000", "2026-03-08 02:30:00.5",
      " 2021-11-07 01:30:00 ", "2026-13-01 00:00:00", "", null).toDF("s")
    Seq("UTC", "Asia/Taipei", "America/New_York", "+05:45", "", "No/Such_Zone").foreach { z =>
      assertSame(in, Timestamps.iidrTimestampToIsoZoned(col("s"), z),
        ByName.isoZoned(col("s"), z), s"iidrTimestampToIsoZoned($z)")
    }
    assertSame(in, Timestamps.coerceDate(col("s")), ByName.coerceDate(col("s")), "coerceDate")
  }

  test("override coercions and failure reasons plan as the type-name casts did") {
    val in = Seq("2026-01-15", "2026-02-30", "-12-7", "+178956970-7", "P1Y2M",
      "P1Y2M0DT0H0M0S", "3 04:05:06.5", "-106751991 04:00:54.775808", "P1DT2H3M4.5S",
      "PT26H", "garbage", " ", null).toDF("s")
    Seq("date", "interval_ym", "interval_ds").foreach { t =>
      assertSame(in, TypeOverrides.coerce(col("s"), t), ByName.coerce(col("s"), t), s"coerce $t")
      assertSame(in, TypeOverrides.failureReason(col("s"), t),
        ByName.failureReason(col("s"), t), s"failureReason $t")
    }
  }
}
