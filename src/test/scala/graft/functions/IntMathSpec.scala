package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two signed-division conventions EXPLICITLY (VERDICT r9
  * item 7): Catalyst's IntegralDivide truncates toward zero — so
  * does measured DuckDB 1.0.0 `//` ((-7)//2 = -3 on both) — while
  * `floorDiv` floors via the pmod pre-subtraction, which is exact
  * floor on any engine regardless of its native signed-division
  * rule. The half-up ladder is asserted against BigDecimal HALF_UP.
  */
class IntMathSpec extends AnyFunSuite with SparkSpec {

  private def eval1(c: org.apache.spark.sql.Column): Long = {
    import spark.implicits._
    Seq(1).toDF("x").select(c.cast("long")).head().getLong(0)
  }

  test("idiv truncates toward zero — the IntegralDivide rule, which " +
    "measured DuckDB 1.0.0 `//` matches") {
    assert(eval1(IntMath.idiv(lit(-7L), lit(2L))) === -3L)
    assert(eval1(IntMath.idiv(lit(7L), lit(2L))) === 3L)
    assert(eval1(IntMath.idiv(lit(-6L), lit(2L))) === -3L)
    assert(eval1(IntMath.idiv(lit(-1L), lit(2L))) === 0L)
  }

  test("floorDiv floors on every signed numerator — engine-rule-proof " +
    "via the pmod pre-subtraction") {
    assert(eval1(IntMath.floorDiv(lit(-7L), lit(2L))) === -4L)
    assert(eval1(IntMath.floorDiv(lit(7L), lit(2L))) === 3L)
    assert(eval1(IntMath.floorDiv(lit(-6L), lit(2L))) === -3L)
    assert(eval1(IntMath.floorDiv(lit(-1L), lit(2L))) === -1L)
    assert(eval1(IntMath.floorDiv(lit(0L), lit(2L))) === 0L)
    // exhaustive small lattice against Java's reference floorDiv
    for (a <- -20L to 20L; b <- Seq(1L, 2L, 3L, 7L)) {
      assert(eval1(IntMath.floorDiv(lit(a), lit(b))) ===
        Math.floorDiv(a, b), s"floorDiv($a, $b)")
    }
  }

  test("idivHalfUp is exact HALF_UP at every boundary") {
    for (a <- 0L to 40L; b <- Seq(1L, 2L, 3L, 4L, 8L)) {
      val expect = BigDecimal(a)
        ./(BigDecimal(b))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toLong
      assert(eval1(IntMath.idivHalfUp(lit(a), lit(b))) === expect,
        s"idivHalfUp($a, $b)")
    }
  }

  test("idivHalfUpSigned rounds half away from zero") {
    assert(eval1(IntMath.idivHalfUpSigned(lit(-3L), lit(2L))) === -2L)
    assert(eval1(IntMath.idivHalfUpSigned(lit(3L), lit(2L))) === 2L)
    assert(eval1(IntMath.idivHalfUpSigned(lit(-5L), lit(4L))) === -1L)
  }

  test("microRatio matches the macro arithmetic") {
    assert(eval1(IntMath.microRatio(lit(1L), lit(3L))) === 333333L)
    assert(eval1(IntMath.microRatio(lit(1L), lit(2L))) === 500000L)
    assert(eval1(IntMath.microRatio(lit(2L), lit(3L))) === 666667L)
  }
}
