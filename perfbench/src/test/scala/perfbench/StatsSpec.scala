package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private val hundred = (1 to 100).map(_.toDouble)

  test("nearest-rank percentiles of 1..100") {
    assert(Stats.percentile(hundred, 0.5) == 50.0)
    assert(Stats.percentile(hundred, 0.9) == 90.0)
    assert(Stats.percentile(hundred.reverse, 0.9) == 90.0)
  }

  test("refuses a percentile with fewer than 10 samples beyond it") {
    // p90 of 100 leaves exactly 10 beyond: accepted; of 99, only 9: refused
    assert(Stats.percentile(hundred, 0.9) == 90.0)
    val e = intercept[IllegalArgumentException](Stats.percentile(hundred.take(99), 0.9))
    assert(e.getMessage.contains("9 beyond"))
    intercept[IllegalArgumentException](Stats.percentile(hundred, 0.99))
    intercept[IllegalArgumentException](Stats.percentile(hundred.take(19), 0.5))
    assert(Stats.percentile(hundred.take(20), 0.5) == 10.0)
    intercept[IllegalArgumentException](Stats.percentile(Nil, 0.5))
  }

  test("median, and the zero used for a layer with no samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.medianOr0(Nil) == 0.0 && Stats.maxOr0(Nil) == 0.0)
  }
}
