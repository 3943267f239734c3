package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Oracle-stable numeric aggregation.
  *
  * Spark aggregates doubles with parallel partial aggregation; DuckDB
  * aggregates sequentially. Double addition is not associative, so
  * `sum(double)` differs between the engines in the last bits and breaks
  * hash-matching. Routing the sum through exact DECIMAL arithmetic makes the
  * result bit-identical on both engines (each input double has an exact
  * short decimal rendering in this dataset; the sum is then exact).
  *
  * Every money/measure aggregate in an oracle-compared query must use these
  * helpers, and the oracle SQL must use the matching
  * `CAST(SUM(CAST(x AS DECIMAL(28,s))) AS DOUBLE)` form.
  */
object Stable {
  private val S = 4 // decimal scale: enough for prices (2dp) and discounts (2dp) products (4dp)

  /** Exact sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(28, S))).cast("double")

  /** Exact sum at a custom scale (for pre-multiplied expressions). */
  def dsum(c: Column, scale: Int): Column = sum(c.cast(DecimalType(28, scale))).cast("double")

  /** Stable average: exact decimal sum divided by count, in double. */
  def davg(c: Column): Column =
    sum(c.cast(DecimalType(28, S))).cast("double") / count(c)

  /** SQL fragments for the DuckDB side. */
  def sqlSum(expr: String, scale: Int = S): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(28,$scale))) AS DOUBLE)"
}
