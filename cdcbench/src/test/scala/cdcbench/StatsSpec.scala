package cdcbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("quantile interpolates between closest ranks") {
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5)
    assert(Stats.quantile(Seq(10.0, 20.0, 30.0, 40.0, 50.0), 0.9) == 46.0)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0), 0.0) == 1.0)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0), 1.0) == 3.0)
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.mean(Seq(1.0, 2.0, 6.0)) == 3.0)
    intercept[IllegalArgumentException](Stats.quantile(Seq.empty, 0.5))
    intercept[IllegalArgumentException](Stats.quantile(Seq(1.0), 1.5))
  }

  test("a percentile needs ten samples beyond it") {
    assert(Stats.supports(100, 0.9))
    assert(!Stats.supports(99, 0.9))
    assert(Stats.supports(20, 0.5))
    assert(!Stats.supports(19, 0.5))
    assert(!Stats.supports(8, 0.9))
    assert(Stats.supportedQuantile((1 to 8).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.supportedQuantile((1 to 101).map(_.toDouble), 0.9)
      .contains(91.0))
  }

  test("failure share counts failed ops against attempted ones") {
    assert(Stats.failureShare(0, 10) == 0.0)
    assert(Stats.failureShare(3, 12) == 0.25)
    intercept[IllegalArgumentException](Stats.failureShare(0, 0))
    intercept[IllegalArgumentException](Stats.failureShare(5, 4))
  }

  test("metric values print as JSON numbers with all their digits") {
    assert(Json.num(0.1234567891234) == "0.1234567891234")
    assert(Json.num(12.0) == "12")
    intercept[IllegalArgumentException](Json.num(Double.NaN))
  }
}
