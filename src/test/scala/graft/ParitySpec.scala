package graft

import graft.ops.Parity
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB-parity rules of [[graft.ops.Parity]]: the result type
  * each one hands a query, and its value at the edges the oracle twins
  * agree on (or, for `idiv` and the LONG clamp, where they part).
  */
class ParitySpec extends AnyFunSuite {
  import SparkTestSession._

  private def one(c: Column) = spark.range(1).select(c.as("v"))
  private def typeOf(c: Column): DataType = one(c).schema("v").dataType
  private def value(c: Column): Any = one(c).head().get(0)

  test("each rule's result type") {
    val x = lit(7L)
    assert(typeOf(Parity.fix6(x)) == LongType)
    assert(typeOf(Parity.snap6(x)) == DoubleType)
    assert(typeOf(Parity.dec(x)) == DecimalType(38, 0))
    assert(typeOf(Parity.dec19(x)) == DecimalType(19, 0))
    assert(typeOf(Parity.ln6(x)) == LongType)
    assert(typeOf(Parity.lm(x)) == LongType)
    assert(typeOf(Parity.idiv(x, lit(2L))) == DecimalType(38, 0))
  }

  test("snap6 rounds a half-way point up, toward +inf") {
    // 2.5e-6 * 1e6 is exactly 2.5 in IEEE doubles
    assert(value(Parity.snap6(lit(2.5e-6))) == 3e-6)
    assert(value(Parity.snap6(lit(-2.5e-6))) == -2e-6)
    assert(value(Parity.snap6(lit(0.1234565))) == 0.123457)
    assert(value(Parity.fix6(lit(2.5e-6))) == 3L)
  }

  test("snap6 clamps at the LONG range, past |x| = 9.2e12") {
    assert(value(Parity.snap6(lit(1e13))) == Long.MaxValue / 1e6)
  }

  test("ln6(2) is the 693147 literal q291 spells; lm(0) is 0") {
    assert(value(Parity.ln6(lit(2L))) == 693147L)
    assert(value(Parity.ln6(lit(1L))) == 0L)
    assert(value(Parity.lm(lit(0L))) == 0L)
    assert(value(Parity.lm(lit(2L))) == 693147L)
  }

  test("idiv floors: a negative numerator rounds toward -inf") {
    assert(value(Parity.idiv(lit(7L), lit(2L))) == BigDecimal(3).bigDecimal)
    assert(value(Parity.idiv(lit(-7L), lit(2L))) == BigDecimal(-4).bigDecimal)
    // exact past 2^63, where a LONG `DIV` wraps
    val big = Parity.dec(lit(Long.MaxValue)) * lit(4L)
    assert(value(Parity.idiv(big, lit(2L))) ==
      (BigDecimal(Long.MaxValue) * 2).bigDecimal)
  }

  test("the driver-side forms agree with the column forms") {
    for (x <- Seq(2.5e-6, -2.5e-6, 0.1234565, math.log(19.0), 127.0 / 3)) {
      assert(Parity.snap6(x) == value(Parity.snap6(lit(x))), s"snap6($x)")
      assert(Parity.fix6(x) == value(Parity.fix6(lit(x))), s"fix6($x)")
    }
  }
}
