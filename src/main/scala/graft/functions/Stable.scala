package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Order-independent money aggregates (SURVEY.md §5 float discipline).
  *
  * `sum(double)` depends on partial-aggregation order — nondeterministic
  * across runs and engines in the last ulps, which a hash-compare oracle
  * can surface whenever a rounded result sits near a decimal midpoint.
  * The money columns in this data model are exact 2-decimal quantities
  * stored as doubles, so summing `round(x·10^scale)` as BIGINT is exact,
  * associative, and overflow-safe (2^63 cents ≈ 9·10^16 dollars); the
  * final division is a single deterministic FP op. The DuckDB oracle uses
  * the same formula: `CAST(sum(CAST(round(x*10^s) AS BIGINT)) AS
  * DOUBLE)/10^s`.
  *
  * The per-row `round` runs on the exact kernel [[ExactRound]]:
  * [[graft.plans.RewriteRound]] swaps it in for Spark's `BigDecimal`
  * round at optimization, with the same bits.
  */
object Stable {
  /** Exact sum of a fixed-point column (default cents). */
  def moneySum(c: Column, scale: Int = 2): Column = {
    val f = math.pow(10, scale)
    sum(round(c * f).cast("long")) / f
  }

  /** Exact-numerator average of a fixed-point column. */
  def moneyAvg(c: Column, scale: Int = 2): Column =
    moneySum(c, scale) / count(lit(1))

  /** Oracle-side SQL for the same expressions. */
  def moneySumSql(expr: String, scale: Int = 2): String = {
    val f = BigDecimal(10).pow(scale).toLong
    s"CAST(sum(CAST(round(($expr)*$f) AS BIGINT)) AS DOUBLE)/$f.0"
  }
  def moneyAvgSql(expr: String, scale: Int = 2): String =
    s"${moneySumSql(expr, scale)}/count(*)"
}
