package graft.batch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One correctness-gated query: a Spark DataFrame program plus (optionally)
  * the equivalent ANSI SQL the driver runs in DuckDB over the same parquet.
  *
  * Conventions that make the hash-compare deterministic:
  *   - every float aggregate is `dec4(...)` (round 4 → DECIMAL(18,4)) on BOTH
  *     sides, so double summation-order noise can't flip a bit;
  *   - every query ends in a total ORDER BY over its output columns;
  *   - aggregate/computed columns carry identical aliases on both sides.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, sql: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(sql))

  /** Rows-only checked query (no SQL-expressible oracle). */
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)

  /** Deterministic float: round to 4 dp (both engines then hold the nearest
    * double to the same 4-dp decimal — bitwise-identical, and DOUBLE on both
    * sides so the pandas-level compare sees matching dtypes; DECIMAL would
    * come back from DuckDB's `.df()` as float64 but from Spark parquet as
    * `Decimal` objects).
    *
    * VALID ONLY when the group's accumulated fp error is far below the 4-dp
    * boundary width (small groups of ~unit-magnitude values). For large
    * groups or large magnitudes use [[exactSum]]/[[exactAvg]]: round-after-
    * sum broke at sf0.1 on q5 (6e9 revenue over 600k rows — double ulp at
    * 6e9 is ~1e-6, so partial-sum ORDER noise crosses 4-dp boundaries). */
  def dec4(c: Column): Column = round(c, 4)

  /** SQL twin of [[dec4]] for the DuckDB side. */
  def sqlDec4(expr: String): String = s"round($expr, 4)"

  /** Order-free float SUM: quantize each ADDEND to 6 dp as a SCALED BIGINT
    * (two deterministic fp ops per row), sum in pure long arithmetic
    * (partial-agg order cannot matter — and longs stay on Spark's fast
    * inline hash-agg path; a DECIMAL(38,6) accumulator is var-length in
    * UnsafeRow and measured 17x slower on q1), then one double division.
    *
    * Why 6 dp: the quantization must sit BELOW the data's intrinsic decimal
    * precision. Prices are 2-dp decimals, so 2/3-factor products are exact
    * at ≤6 dp — a 4-dp quantization puts ~1% of rows on an exact .xxxx50
    * TIE, where Spark (BigDecimal shortest-repr, HALF_UP) and DuckDB
    * (binary-double rounding) disagree (observed: q1 sum_charge). At 6 dp
    * the scaled addend is within ~1e-7 of an integer — never near a .5
    * rounding tie — and full-precision (non-decimal) data hits one with
    * probability ~0. Both engines therefore quantize every addend to the
    * SAME long, and the long sum is exact.
    *
    * Overflow envelope: |sum of scaled addends| must stay < 2^63 ≈ 9.2e18 —
    * i.e. Σ|value| < 9.2e12 per group. A 100 TB job summing beyond that
    * splits the addend (div/mod 10^6) into two long sums. */
  def exactSum(e: String): Column =
    expr(s"cast(sum(cast(round(($e) * 1000000, 0) as bigint)) as double) / 1000000")

  /** SQL twin of [[exactSum]]. */
  def sqlExactSum(e: String): String =
    s"(CAST(sum(CAST(round(($e) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000)"

  /** Order-free float AVG: [[exactSum]] / COUNT — deterministic double
    * divisions on an exact numerator. */
  def exactAvg(e: String): Column =
    expr(s"cast(sum(cast(round(($e) * 1000000, 0) as bigint)) as double) / 1000000 / count(*)")

  /** SQL twin of [[exactAvg]]. */
  def sqlExactAvg(e: String): String =
    s"(CAST(sum(CAST(round(($e) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000 / count(*))"
}
