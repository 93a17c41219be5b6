package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.functions.{ColumnBridge, ExactMicros}

/** Shared helpers keeping Spark results bit-identical to the DuckDB oracle.
  *
  * Floating-point SUM/AVG over doubles is order-dependent (IEEE addition is
  * non-associative), and Spark's partial aggregation order differs from
  * DuckDB's sequential scan. We therefore aggregate through DECIMAL(28,6)
  * (exact, associative, overflow-safe at sf0.1 magnitudes) and cast the final
  * value back to DOUBLE: the same exact decimal renders to the same double in
  * both engines. Per-row double arithmetic (no reduction) is bit-exact across
  * engines as long as the expression tree shape matches, so it needs no cast.
  *
  * A naive decimal SUM costs ~3-5x on aggregate-heavy queries (128-bit
  * decimal adds in the agg buffer vs one vectorized long/double add). The
  * exact path here avoids that tax without giving up bit-parity: each row
  * becomes its exact long micro-units — the value of
  * `(c.cast(DECIMAL(28,6)) * 1000000).cast(LONG)`, DECIMAL(28,6) being
  * the contract quantum — summed as two plain long aggregates (hi = units
  * >> 23, lo = units & (2^23-1); the two's-complement identity u =
  * (u>>23)*2^23 + (u & mask) holds for negative u as well, so signed
  * values split/recombine exactly). The final value reconstructs the
  * exact decimal total from the two partials, so the double it renders to
  * is bit-identical to summing decimals directly.
  *
  * The per-row conversion builds no Decimal: the codegen kernel
  * [[graft.functions.ExactMicros]] computes `x = d * 1e6` in double and,
  * for finite |d| < 2^32 with x more than 4 ulp away from a half-micro,
  * rounds it HALF_UP, which is what the cast does to the decimal
  * `Double.toString(d)` renders (the JVM's own rendering, not always the
  * shortest on JDK 17; it round-trips, so it lies within half an ulp of
  * d). Every other row — near a half-micro, large, NaN or ±Inf —
  * evaluates Spark's own cast chain, so its value, NULL or ANSI error is
  * the cast's. q1_pricing in-JVM (sf0.1, `local[4]`, 12 warm runs):
  * 969 ms median with the cast per row, 415 ms with the kernel.
  *
  * Capacity (100 TB framing): the per-row long cast holds for |value| <=
  * ~9.2e12 (money/metric magnitudes; ANSI mode makes the cast throw loudly
  * beyond), and the partial sums hold for ~1.1e12 rows PER GROUP at that
  * max magnitude (lo <= 2^23 per row -> 2^63/2^23 rows; hi is smaller for
  * money-scale values). ANSI sum-overflow also throws rather than wrapping,
  * so exceeding either bound is loud, never silent corruption. Sums of
  * SQUARES (e.g. agg_corr's price^2 moments, ~1e16 units/row) exceed the
  * hi capacity at large-group scale and go through the three-limb
  * [[exactDecimalSumWide]] instead.
  *
  * Every DECIMAL(28,6) sum of a double in graft goes through this object:
  * [[dsum]]/[[davg]] for double results, [[dsumOver]] for window frames and
  * [[exactDecimalSumWide]] where the decimal total itself is kept.
  */
object Oracle {
  private val Shift = 23
  private val Mask = (1L << Shift) - 1

  /** Exact micro-units of each row of a double column: the value, NULL or
    * ANSI error of `(c.cast(DECIMAL(28,6)) * 1000000).cast(LONG)`,
    * computed by the [[graft.functions.ExactMicros]] kernel (see the
    * object doc).
    */
  private def micros(c: Column): Column =
    ColumnBridge.column(ExactMicros(ColumnBridge.expression(c)))

  /** Exact DECIMAL(28,6)-sum-to-double via two long partial sums (see the
    * object doc), each taken by `total` (a group's `sum`, or `sum` over a
    * window). NULL rows drop out of both partials identically to a decimal
    * sum; an all-null or empty group or frame yields NULL hi/lo and thus a
    * NULL result, matching SUM semantics. */
  private def hiloExactSum(c: Column, total: Column => Column): Column = {
    val units = micros(c)
    val hi = total(shiftright(units, Shift))
    val lo = total(units.bitwiseAND(lit(Mask)))
    ((hi.cast(DecimalType(38, 0)) * lit(1L << Shift) +
      lo.cast(DecimalType(38, 0))) *
      lit(new java.math.BigDecimal("0.000001"))).cast(DoubleType)
  }

  /** Exact decimal total — same value and type as
    * `sum(c.cast(DecimalType(28,6)))` — via THREE 21-bit long limbs, for
    * per-row magnitudes the two-limb [[dsum]] path can't carry: squared
    * money moments run to ~1e16 micro-units per row, where a 23-bit hi
    * limb would overflow around 1e9 rows. Three limbs of 21 bits each
    * hold the FULL long micro-unit range per row with ~4.4e12 rows per
    * group of headroom (2^63 / 2^21). Callers needing DuckDB's
    * above-2^64 double-rounding apply `decimal_to_double_duckdb` to the
    * returned decimal, exactly as they would to a direct decimal sum. */
  def exactDecimalSumWide(c: Column): Column = {
    val units = micros(c)
    val m = lit((1L << 21) - 1)
    val s2 = sum(shiftright(units, 42))
    val s1 = sum(shiftright(units, 21).bitwiseAND(m))
    val s0 = sum(units.bitwiseAND(m))
    ((s2.cast(DecimalType(38, 0)) * lit(1L << 42) +
      s1.cast(DecimalType(38, 0)) * lit(1L << 21) +
      s0.cast(DecimalType(38, 0))) *
      lit(new java.math.BigDecimal("0.000001"))).cast(DecimalType(38, 6))
  }

  /** Sum of a double column, bit-identical to
    * `sum(c.cast(DECIMAL(28,6))).cast(DOUBLE)` (via long hi/lo partials). */
  def dsum(c: Column): Column = hiloExactSum(c, sum(_))

  /** [[dsum]] over a window frame: bit-identical to
    * `sum(c.cast(DECIMAL(28,6))).over(w).cast(DOUBLE)`, NULL on an empty
    * frame. */
  def dsumOver(c: Column, w: WindowSpec): Column =
    hiloExactSum(c, sum(_).over(w))

  /** Average of a double column: [[dsum]] over the group's row count. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** The oracle-side spelling of [[dsum]]. */
  def sqlSum(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(28,6))) AS DOUBLE)"

  /** The oracle-side spelling of [[davg]]. */
  def sqlAvg(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(28,6))) AS DOUBLE) / count(*)"
}
