package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The DuckDB-parity arithmetic shared by the catalog: the few numeric
  * rules that let a Spark query and its oracle SQL land on bit-identical
  * values. Each rule is defined once here; the oracle SQL keeps spelling
  * its twin (given per rule) inline. Plain `functions._` only, so every
  * rule stays inside whole-stage codegen.
  */
object Parity {

  /** Fixed-point micro-units: `floor(x·1e6 + 0.5)`, a LONG (Spark's
    * `floor` of a DOUBLE is BIGINT). DuckDB twin:
    * `CAST(floor(x * 1e6 + 0.5) AS BIGINT)`. HALF_UP toward +∞ on ties.
    * Past |x| ≈ 9.2e12 the scaled value leaves the LONG range and Spark
    * clamps it silently, while DuckDB's `floor` stays DOUBLE.
    */
  def fix6(c: Column): Column = floor(c * 1e6 + 0.5)

  /** [[fix6]] on the driver, with the JVM's IEEE-754 ops (bit-identical
    * to the column form). */
  def fix6(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong

  /** The 6-decimal snap `floor(x·1e6 + 0.5) / 1e6`, a DOUBLE. DuckDB
    * twin: the same spelling. Both engines run the identical multiply,
    * add, floor and divide, so the result compares bit-exact, and the
    * snap absorbs last-ulp libm noise in a transcendental input (except
    * exactly at a snap boundary). Used instead of `round(x, 6)`: Spark
    * rounds a DOUBLE through BigDecimal per row and scale-rounds the
    * shortest decimal repr, where DuckDB rounds the binary value.
    *
    * Limit: the intermediate floor is [[fix6]]'s LONG, so it clamps at
    * 2⁶³ (|x| ≈ 9.2e12) where DuckDB's DOUBLE floor does not. Never
    * micro-snap a quantity that grows like N² or N³ (a variance, a sum
    * of squares); snap the sd, a coarser scale, or emit the unsnapped
    * double.
    */
  def snap6(c: Column): Column = fix6(c) / 1e6

  /** [[snap6]] on the driver, as the oracle computes it: the floor
    * stays a DOUBLE, so this one does not clamp. */
  def snap6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** ln(x) as fixed-point micro-units, a LONG:
    * `floor(ln(CAST(x AS DOUBLE))·1e6 + 0.5)`. DuckDB twin:
    * `CAST(floor(ln(CAST(x AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)`. Sums
    * and products of these longs stay exact in DECIMAL, so an entropy
    * or likelihood needs one final division. Spark's `log` of x ≤ 0 is
    * NULL where DuckDB's `ln` raises an error: guard with [[lm]] when x
    * can be 0.
    */
  def ln6(c: Column): Column = fix6(log(c.cast("double"))).cast("long")

  /** [[ln6]] with the x·ln x convention 0·ln 0 = 0: 0 for x ≤ 0. DuckDB
    * twin: `CASE WHEN x > 0 THEN <ln6 twin> ELSE 0 END`. */
  def lm(c: Column): Column = when(c > 0L, ln6(c)).otherwise(lit(0L))

  /** Exact integer arithmetic: DECIMAL(38,0), DuckDB's HUGEINT range
    * (`CAST(x AS HUGEINT)` in the twin). A product of two such values is
    * exact up to 38 digits; past that Spark ANSI mode throws instead of
    * wrapping, where a LONG product would wrap at 2⁶³ silently.
    */
  def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** DECIMAL(19,0), the narrowest decimal that holds every LONG. Its
    * sums and products carry a smaller declared precision than [[dec]]'s
    * (a SUM is DECIMAL(29,0), not (38,0)), so a following division
    * derives a different result scale: the sites verified with it keep
    * it. DuckDB twin: the same cast, or HUGEINT.
    */
  def dec19(c: Column): Column = c.cast("decimal(19,0)")

  /** Floor division of integers in exact DECIMAL space,
    * `(a − pmod(a, b)) / b` as DECIMAL(38,0). Spark's `DIV`
    * (IntegralDivide) returns a LONG and wraps silently past 2⁶³ (4e24
    * DIV 2000 reads garbage); subtracting the remainder first makes the
    * decimal quotient integral, so it is exact and un-rounded. DuckDB twin: `a // b`
    * over HUGEINT operands, which agrees for a ≥ 0 and b > 0 only:
    * DuckDB's `//` truncates toward zero, while `pmod` keeps the
    * remainder non-negative, so here a negative numerator rounds
    * toward −∞ (−7 → −4 for b = 2, where DuckDB gives −3).
    */
  def idiv(a: Column, b: Column): Column =
    ((dec(a) - pmod(dec(a), dec(b))) / dec(b)).cast("decimal(38,0)")
}
