package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** BigQuery-semantics compat helpers (SURVEY §2.7 gaps). Plain Column
  * combinators over codegen'd built-ins — no UDFs, no custom
  * Expressions — so every call stays inside whole-stage codegen.
  *
  * Gap sites (reference cites):
  *  - REGEXP_EXTRACT no-match: BigQuery NULL vs Spark ''
  *    (/root/reference/models/fact_trips_stops.sql:93-104)
  *  - SAFE_CAST (/root/reference/models/fact_trips_stops.sql:68)
  *  - TIMESTAMP_DIFF arg order (later, earlier, unit)
  *    (/root/reference/models/fact_trips.sql:66-70)
  *  - GTFS "HH:MM:SS" with HH >= 24
  *    (/root/reference/docs/metrics_guide.md:93-95)
  *  - ordered argmin with null-last multi-key
  *    (/root/reference/models/fact_trips.sql:42-57)
  */
object BqCompat {

  /** BigQuery REGEXP_EXTRACT: NULL (not '') when the pattern does not
    * match. Group 0 = whole match, like BigQuery's single-arg form.
    *
    * Limitation: implemented as nullif-on-empty, so a pattern that can
    * SUCCESSFULLY match the empty string (zero-width match, e.g.
    * `a*`) maps that match to NULL, where BigQuery would return ''.
    * No engine pattern is zero-width-capable; callers introducing one
    * need a regexp_like guard instead. */
  def regexpExtractOrNull(c: Column, pattern: String, group: Int = 0): Column =
    nullif(regexp_extract(c, pattern, group), lit(""))

  /** BigQuery SAFE_CAST(x AS INT64): NULL on malformed input,
    * independent of spark.sql.ansi.enabled. */
  def safeCastLong(c: Column): Column = c.try_cast(LongType)

  /** BigQuery SAFE_DIVIDE: NULL on divide-by-zero. */
  def safeDivide(a: Column, b: Column): Column = try_divide(a, b)

  /** Exact integer floor-sqrt: floor(sqrt(x)) for 0 <= x < 2^53.
    * IEEE sqrt is correctly rounded, so the double path agrees across
    * engines; the two CASE adjustments make the result exact even at
    * perfect-square boundaries where floor(double) could land off by
    * one ulp. DuckDB twin — the same adjustment chain:
    * {{{
    *   s0 AS (SELECT CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) ...),
    *   s1 = CASE WHEN (s0+1)*(s0+1) <= x THEN s0+1 ELSE s0 END,
    *   isqrt = CASE WHEN s1*s1 > x THEN s1-1 ELSE s1 END
    * }}} */
  def isqrt(x: Column): Column = {
    val s0 = floor(sqrt(x.cast(DoubleType))).cast(LongType)
    val s1 = when((s0 + 1L) * (s0 + 1L) <= x, s0 + 1L).otherwise(s0)
    when(s1 * s1 > x, s1 - 1L).otherwise(s1)
  }

  /** 2x2 chi-square statistic x100 as exact BIGINT arithmetic, as a
    * SQL expression string over column names (n0, c0) / (n1, c1):
    * chi2 = N*(ad-bc)^2 / (row1*row2*col1*col2). A zero margin zeroes
    * ad-bc too, so greatest(denominator, 1) turns the degenerate 0/0
    * into a clean 0.
    *
    * Overflow envelope — GUARDED, not just documented: the numerator
    * N*det^2*100 stays under 2^63 only while |det| < 3.037e8/sqrt(N),
    * and the denominator (bounded by N^4/16) only while N <= 55 000.
    * What the guard buys: Spark 4 ANSI mode (and DuckDB) already
    * RAISE on BIGINT multiply overflow, so silent wrap-around cannot
    * occur — but the engine's ARITHMETIC_OVERFLOW is opaque (thrown
    * from whichever partition hits it first, naming no column) and
    * arrives only on the data that overflows. This CASE replaces it
    * with a DETERMINISTIC boundary (the same counts always pass or
    * always raise, independent of partitioning/evaluation order) and
    * an actionable message: rescale counts (chi-square is
    * count-linear, so thousands-scale counts with a boundary shifted
    * x1000 read identically). The conservative floor(sqrt)+2 below
    * never under-rejects: it only tightens the |det| bound by one
    * count. CASE-guard placement is safe here because every call site
    * is an already-aggregated 1-row / per-day / per-arm frame — never
    * a per-event hot path (see the hot-guard CSE invariant in the
    * build notes). The DuckDB oracles intentionally keep the
    * UNGUARDED arithmetic: inside the envelope both engines agree
    * exactly, outside it both raise rather than agree on garbage. */
  def chi2x100Sql(n0: String = "n0", c0: String = "c0",
                  n1: String = "n1", c1: String = "c1"): String = {
    val det = s"($c0 * ($n1 - $c1) - $c1 * ($n0 - $c0))"
    val n = s"($n0 + $n1)"
    s"""CASE WHEN $n <= 55000L AND abs($det) <
           303693000L div (CAST(floor(sqrt(CAST($n AS DOUBLE))) AS BIGINT) + 2L)
         THEN $n * $det * $det * 100L
           div greatest($n0 * $n1 * ($c0 + $c1) * ($n - $c0 - $c1), 1L)
         ELSE CAST(raise_error(
           'chi2x100: counts exceed the exact BIGINT envelope; rescale counts to thousands') AS BIGINT)
       END"""
  }

  /** BigQuery TIMESTAMP_DIFF(later, earlier, SECOND). Note BigQuery's
    * argument order is (later, earlier) — kept here. */
  def timestampDiffSeconds(later: Column, earlier: Column): Column =
    unix_timestamp(later) - unix_timestamp(earlier)

  /** BigQuery TIMESTAMP_DIFF(later, earlier, MINUTE) — truncation
    * toward zero of the whole-second difference, like BigQuery. */
  def timestampDiffMinutes(later: Column, earlier: Column): Column =
    ((unix_timestamp(later) - unix_timestamp(earlier)) / 60L).cast(LongType)

  /** BigQuery TO_HEX(SHA256(s)) — Spark's sha2 already returns
    * lowercase hex. */
  def sha256Hex(c: Column): Column = sha2(c, 256)

  /** GTFS "HH:MM:SS" (HH may exceed 24, e.g. "25:10:00" = 01:10 next
    * day) + a service-day timestamp → absolute timestamp. Pure epoch
    * arithmetic so DST/civil-time ambiguity never enters.
    * serviceDayMidnight must already be the civil midnight as a
    * TimestampType.
    */
  def gtfsTimeToTs(serviceDayMidnight: Column, hms: Column): Column = {
    val parts = split(hms, ":")
    val secs = parts.getItem(0).cast(LongType) * 3600L +
      parts.getItem(1).cast(LongType) * 60L +
      parts.getItem(2).cast(LongType)
    timestamp_seconds(unix_timestamp(serviceDayMidnight) + secs)
  }

  /** Null-last ordering key component: (isNull, value). Structs compare
    * lexicographically, so wrapping each ORDER BY key as
    * struct(nullFlag, key) reproduces BigQuery's
    * `ORDER BY CASE WHEN k IS NULL THEN 1 ELSE 0 END, k`
    * (/root/reference/models/fact_trips.sql:44-47). */
  def nullsLastKey(k: Column): Column =
    struct(when(k.isNull, lit(1)).otherwise(lit(0)).as("n"), k.as("k"))

  /** For max_by the flag must invert so NULL keys LOSE the max. */
  private def nullsLastKeyDesc(k: Column): Column =
    struct(when(k.isNull, lit(0)).otherwise(lit(1)).as("n"), k.as("k"))

  /** Ordered argmin: value of `v` at the smallest composite key.
    * Replaces BigQuery's ARRAY_AGG(... ORDER BY ... LIMIT 1)[OFFSET(0)]
    * with an O(n) single-pass min_by instead of an O(n log n) sort
    * (/root/reference/models/fact_trips.sql:42-57). Keys are wrapped
    * null-last; pass keys in major-to-minor order. */
  def argMinBy(v: Column, keys: Column*): Column =
    min_by(v, struct(keys.map(nullsLastKey): _*))

  /** Ordered argmax with null keys losing (null-last under DESC). */
  def argMaxBy(v: Column, keys: Column*): Column =
    max_by(v, struct(keys.map(nullsLastKeyDesc): _*))

  /** Floor division for a strictly-positive divisor, exact in Long.
    * BOTH Spark's `div` and DuckDB v1.0.0's integer `//` truncate
    * toward zero (verified: -881205 // 67425 = -13 in DuckDB, not
    * -14), so a floor-semantics query must adjust on BOTH sides: this
    * helper on the Spark side, and the same conditional decrement as
    * an explicit CASE in the DuckDB oracle. With den > 0, floor
    * differs from truncation exactly when the dividend is negative
    * with a remainder, so one conditional decrement suffices without
    * routing through double/decimal division (which loses exactness
    * past 2^53). Callers must guarantee den > 0 (e.g. a span filter
    * or a count). */
  def floorDivPos(num: Column, den: Column): Column =
    (call_function("div", num, den) -
      when(num % den =!= 0 && num < 0, 1L).otherwise(0L)).cast(LongType)

  /** Deterministic money/measure sum: doubles are rounded to integral
    * cents and summed in Long, so the aggregate is order-insensitive
    * and hash-reproducible against any other engine (double summation
    * is order-dependent; int64 summation is not). */
  def sumCents(c: Column): Column = sum(round(c * 100).cast(LongType))

  /** sumCents scaled back to a double amount (exact: cents <= 2^53). */
  def sumMoney(c: Column): Column = sumCents(c) / 100.0
}
