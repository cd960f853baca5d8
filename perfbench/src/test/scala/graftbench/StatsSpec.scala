package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even counts, in any order") {
    assert(Stats.median(Seq(3.0)) == 3.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("geomean is the n-th root of the product") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(0.2, 0.2, 0.2)) - 0.2) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(0.5, 2.0, 4.0, 0.25)) - 1.0) < 1e-12)
  }

  test("a 10% cut on one op moves the geomean by the same share whatever its size") {
    val base = Seq(0.2, 78.0, 1.0)
    val cutSmall = Stats.geomean(Seq(0.18, 78.0, 1.0)) / Stats.geomean(base)
    val cutLarge = Stats.geomean(Seq(0.2, 70.2, 1.0)) / Stats.geomean(base)
    assert(math.abs(cutSmall - cutLarge) < 1e-12)
  }

  test("empty input and non-positive geomean values are refused") {
    intercept[IllegalArgumentException](Stats.median(Nil))
    intercept[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }
}
