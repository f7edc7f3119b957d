package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

/** The money policy shared by every query: a DOUBLE money column is
  * cast to DECIMAL(18,4) before it is summed or multiplied, on both
  * the Spark side and the DuckDB oracle twin, so sums are exact and
  * independent of summation order.
  *
  * Cost: with `graft.plans.GraftExtensions` installed,
  * [[graft.plans.ExactDecimalRule]] runs this policy on unscaled longs.
  * The exactness envelope of those kernels:
  *   - the cast of a double `d` is `Math.round(d·10⁴)` when
  *     |d| < 2³⁸ (≈2.7·10¹¹) and that long divided by 10⁴ is `d` again;
  *   - `+ − ×` over these decimals, narrowed back to DECIMAL(≤18), is
  *     long arithmetic while no step overflows a long;
  *   - SUM over DECIMAL(9..18) (and over `a ± b` of DECIMAL(≤18)
  *     decimals) keeps an exact two-long total, hi·2⁶² + lo; Spark
  *     itself sums DECIMAL(≤8) as one long.
  * Outside the envelope (NaN, ±Inf, larger values, long overflow) each
  * kernel evaluates Spark's own expression, and a SUM total past its
  * result precision goes through Spark's own overflow check, so the
  * results are those of Spark's BigDecimal path; only the cost differs.
  */
object Money {
  def dec(c: String): Column = col(c).cast("decimal(18,4)")
}
