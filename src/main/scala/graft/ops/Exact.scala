package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic aggregation helpers.
  *
  * Double summation is order-dependent, and shuffle/partial-agg order is not
  * reproducible across engines (or even runs) — so every money/measure
  * aggregate goes through EXACT decimal arithmetic (order-independent),
  * is rounded at declared scale, and only then cast to double. The final
  * decimal→double conversion is exact-by-construction: after ROUND(x, 2)
  * the unscaled value fits in 2^53, so both Spark and DuckDB produce the
  * identical IEEE double. HALF_UP rounding matches DuckDB's
  * round-half-away-from-zero for the non-negative measures used here.
  */
object Exact {

  /** Cast a double measure column to an exact decimal before aggregating. */
  def dec(c: Column, precision: Int = 12, scale: Int = 2): Column =
    c.cast(DecimalType(precision, scale))

  /** Exact order-independent sum of a double measure → double. */
  def moneySum(c: Column): Column = round(sum(dec(c)), 2).cast("double")

  /** Exact sum of a pre-built decimal expression → double. */
  def decSum(e: Column): Column = round(sum(e), 2).cast("double")

  /** 1 ± rate as an exact DECIMAL(8,6) term (e.g. discount/tax factors). */
  def onePlus(rate: Column): Column =
    lit(1).cast(DecimalType(8, 6)) + rate.cast(DecimalType(8, 6))
  def oneMinus(rate: Column): Column =
    lit(1).cast(DecimalType(8, 6)) - rate.cast(DecimalType(8, 6))
}
