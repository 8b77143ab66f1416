package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** NoWDB-parity scalar functions (reference: src/nowdb/fun/expr.c).
  *
  * Time model (SURVEY §7.3): a *stamp* is an int64 of nanoseconds since
  * the Unix epoch, UTC (reference types/time.h:27-37) — ns precision
  * exceeds Spark's µs TimestampType, so stamps travel as LongType and
  * these helpers work on either representation. Everything here composes
  * built-in codegen'd expressions — no UDFs in the hot path.
  */
object NowFunctions {

  // ── time points (expr.c:2358-2370, time.h:27-28) ──────────────────
  /** Smallest representable stamp (year 1677), ns. */
  val dawn: Column = lit(Long.MinValue)
  /** Largest representable stamp (year 2262), ns. */
  val dusk: Column = lit(Long.MaxValue)
  /** Nanoseconds in a day. */
  val nsPerDay: Long = 86400L * 1000000000L
  /** The Unix epoch as a stamp. */
  val epochNs: Column = lit(0L)
  /** Current time as a stamp (µs precision — Spark's clock). */
  def nowNs: Column = unix_micros(current_timestamp()) * lit(1000L)

  /** Exact integral division on longs (Catalyst IntegralDivide — the
    * double-valued `/` would lose precision above 2^53). */
  private def ldiv(a: Column, b: Column): Column = call_function("div", a, b)

  // ── stamp ↔ timestamp ─────────────────────────────────────────────
  /** ns-stamp → TimestampType (µs truncation, floor semantics so
    * pre-epoch stamps land in the right µs). */
  def stampToTs(ns: Column): Column =
    timestamp_micros(ldiv(ns - pmod(ns, lit(1000L)), lit(1000L)))
  /** UTC calendar day (DateType) of an ns stamp, by integer arithmetic
    * on the epoch day — unlike `to_date(stampToTs(ns))` it does not
    * follow `spark.sql.session.timeZone`. */
  def stampDay(ns: Column): Column = {
    val day = lit(nsPerDay)
    date_from_unix_date(ldiv(ns - pmod(ns, day), day).cast("int"))
  }
  /** TimestampType → ns-stamp. */
  def tsToStamp(ts: Column): Column = unix_micros(ts) * lit(1000L)

  // ── calendar parts (expr.c:2140-2161, struct tm semantics, UTC) ───
  def yearOf(ts: Column): Column  = year(ts).cast("long")
  def monthOf(ts: Column): Column = month(ts).cast("long")
  def mday(ts: Column): Column    = dayofmonth(ts).cast("long")
  /** Day of week, C tm_wday convention: Sunday=0 … Saturday=6. */
  def wday(ts: Column): Column    = (dayofweek(ts) - lit(1)).cast("long")
  /** Day of year, C tm_yday convention: 0-based (Jan 1 = 0). */
  def yday(ts: Column): Column    = (dayofyear(ts) - lit(1)).cast("long")
  def hourOf(ts: Column): Column  = hour(ts).cast("long")
  def minuteOf(ts: Column): Column = minute(ts).cast("long")
  def secondOf(ts: Column): Column =
    second(ts).cast("long") // tm_sec — integral second within minute

  // ── sub-second parts over ns stamps (expr.c:2166-2184) ────────────
  // Cumulative within the second: milli ∈ [0,999], micro ∈ [0,999999],
  // nano ∈ [0,999999999] (tv_nsec/1e6, /1e3, /1).
  private def nsInSecond(ns: Column): Column = pmod(ns, lit(1000000000L))
  def milli(ns: Column): Column = ldiv(nsInSecond(ns), lit(1000000L))
  def micro(ns: Column): Column = ldiv(nsInSecond(ns), lit(1000L))
  def nano(ns: Column): Column  = nsInSecond(ns)

  // calendar parts directly over ns stamps
  def yearOfNs(ns: Column): Column  = yearOf(stampToTs(ns))
  def monthOfNs(ns: Column): Column = monthOf(stampToTs(ns))
  def mdayNs(ns: Column): Column    = mday(stampToTs(ns))
  def wdayNs(ns: Column): Column    = wday(stampToTs(ns))
  def ydayNs(ns: Column): Column    = yday(stampToTs(ns))
  def hourOfNs(ns: Column): Column  = hourOf(stampToTs(ns))

  // ── declared-only ops in the reference, implemented natively ──────
  // (expr.c:2372-2429 return not-supported; sql.tex documents intent)
  /** Time bin: truncate a timestamp to a calendar unit. */
  def timeBin(unit: String, ts: Column): Column = date_trunc(unit, ts)

  // ── arithmetic parity (expr.c:2228-2247) ──────────────────────────
  /** NoWDB `/` on two integers is the integer quotient (QUOT). */
  def intDiv(a: Column, b: Column): Column = ldiv(a, b)
  /** NoWDB `%` (REM) — integer-only in the reference. */
  def rem(a: Column, b: Column): Column = a % b
  /** NoWDB `^` is power. */
  def power(a: Column, b: Column): Column = pow(a, b)
  /** NoWDB `log` is the natural log. */
  def ln(c: Column): Column = log(c)

  // ── null handling (expr.h:463-473) ────────────────────────────────
  def coal(cs: Column*): Column = coalesce(cs: _*)
}
