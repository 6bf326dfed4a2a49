package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic (decimal-backed) aggregates over double columns.
  *
  * A plain `sum(double)` is order-dependent: shuffle fetch order varies
  * run-to-run and engine-to-engine, so the last few bits of a 600k-row sum
  * differ between Spark and the DuckDB oracle (and even between Spark runs).
  * Casting each addend to an exact DECIMAL first makes the sum associative
  * and therefore bit-identical regardless of partitioning — the per-row
  * double expression itself is IEEE-deterministic on both engines.
  *
  * Cost at scale: decimal partial aggregation is still map-side combinable
  * and codegen'd; the overhead is per-row cast + 128-bit adds, which stays
  * in whole-stage codegen (no UDF boundary).
  */
object Exact {
  /** Exact decimal for small-magnitude sums (|value| ≲ 1e4, e.g.
    * embedding components, event values): 10 fractional digits. The
    * scaled integer (sum × 1e10) must stay < 2^53 — above that,
    * DuckDB's decimal→double cast (scaled-int128 → double → ÷10^s,
    * two roundings) diverges from Spark's single correctly-rounded
    * BigDecimal.toDouble. */
  val D: DecimalType = DecimalType(30, 10)

  /** Exact decimal for money/quantity columns (2dp data, big sums):
    * 4 fractional digits keeps sum × 1e4 < 2^53 up to ~1e12 totals. */
  val M: DecimalType = DecimalType(18, 4)

  /** Order-insensitive exact sum of a small-magnitude double expression. */
  def dsum(c: Column): Column = sum(c.cast(D)).cast("double")

  /** Order-insensitive exact sum of a money-scale double expression. */
  def dsumM(c: Column): Column = sum(c.cast(M)).cast("double")

  /** Deterministic mean: exact sum divided by non-null count (double). */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Long-scaled exact sum: round each addend to `scale` decimal places
    * as a scaled 64-bit integer, sum the integers, divide once. Same
    * associativity/exactness as the decimal sums, but the hot loop is a
    * codegen'd long add instead of a 128-bit decimal add — measured
    * ~2.5× faster on the q01 aggregate (measured in round 3; the
    * parity argument is restated in OPTIMIZATION_r18.md Finding 1).
    *
    * Cross-engine equality: both engines compute the SAME IEEE product
    * `x * 10^scale`, and scale-0 rounding of a given double agrees
    * between Spark (HALF_UP over the shortest-decimal repr) and DuckDB
    * (half-away-from-zero over the binary value) — a shortest repr
    * cannot sit on the opposite side of an integer-half boundary from
    * its double, because `k.5` (exact in binary for k < 2^52) uniquely
    * identifies the double k.5.
    *
    * Two envelopes, per-GROUP on the scaled sum S = sum × 10^scale:
    *  - |S| < 2^53 — EXACTNESS: the quotient is the correctly rounded
    *    true decimal sum (same bound the decimal forms need for their
    *    final double cast).
    *  - 2^53 ≤ |S| < 2^62 — PARITY: the quotient can drift from the
    *    true decimal sum by ≤ 1 ulp (relative 2^-53), but stays
    *    BIT-IDENTICAL across engines: both hold the exact integer S
    *    (Spark long, DuckDB HUGEINT) and apply the same two correctly
    *    rounded steps, int→double then ÷10^scale (DuckDB's
    *    HUGEINT→DOUBLE verified correctly rounded across [2^53, 2^62]).
    *    Note dsum/dsumM do NOT share this tier: DuckDB casts decimal
    *    sums via scaled-int128 → double → ÷10^s, whose double rounding
    *    diverges from Spark's single BigDecimal.toDouble above 2^53 —
    *    so dsumL is the MOST scale-robust form, not the least.
    *  - |S| ≥ 2^62 — GUARDED: one more binary order of magnitude and
    *    Spark's long sum wraps at 2^63 while DuckDB's HUGEINT does not
    *    (silent, catastrophic divergence). raise_error instead. */
  def dsumL(c: Column, scale: Int = 4): Column = {
    val f = math.pow(10, scale) // exact: 10^scale < 2^53
    val s = sum(round(c * f).cast("long"))
    // One comparison per GROUP after final aggregation; map-side
    // combine and per-row codegen are untouched. Best-effort by
    // design: a partial sum that wraps 2^63 through cancellation
    // before the final check is not caught (impossible for same-sign
    // data like money/quantity columns). Remedy at 100 TB: lower
    // `scale`, or pre-aggregate into sub-groups before the final sum.
    val guarded = when(s.isNull || abs(s) < lit(1L << 62), s).otherwise(
      raise_error(concat(
        lit(s"dsumL parity envelope exceeded: |sum*1e$scale| >= 2^62, " +
          "within 2x of 64-bit wrap (scaled sum="),
        s.cast("string"),
        lit(s"); lower the scale or pre-aggregate"))))
    guarded / f
  }

  /** SQL fragment equivalents for the DuckDB oracle. */
  def dsumSql(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(30,10))) AS DOUBLE)"
  def dsumMSql(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(18,4))) AS DOUBLE)"
  def dsumLSql(expr: String, scale: Int = 4): String = {
    val f = "1" + ("0" * scale) + ".0"
    // NOTE: unlike dsumL, this shared-dialect TEXT carries no 2^53
    // envelope guard (DuckDB has no raise_error-compatible spelling);
    // the two s.sql callers (q31/q32) sum 2dp money at scale 4, well
    // inside the envelope below SF~10.
    // CAST the BIGINT sum to DOUBLE before dividing: Spark parses the
    // `$f` literal as DECIMAL(6,1), so BIGINT/DECIMAL would coerce to
    // decimal(28,7) while DuckDB types the same division DOUBLE —
    // equal numbers, different representation, hash mismatch. With the
    // explicit cast both dialects compute double/decimal-literal →
    // DOUBLE, one correctly-rounded division on each engine.
    s"(CAST(SUM(CAST(round(($expr) * $f) AS BIGINT)) AS DOUBLE) / $f)"
  }
  def davgSql(expr: String): String =
    s"(${dsumSql(expr)} / COUNT($expr))"
}
