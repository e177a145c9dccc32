package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles of a fixed array") {
    val xs = Seq(15.0, 20.0, 35.0, 40.0, 50.0)
    assert(Stats.percentile(xs, 5) == 15.0)
    assert(Stats.percentile(xs, 30) == 20.0)
    assert(Stats.percentile(xs, 40) == 20.0)
    assert(Stats.percentile(xs, 50) == 35.0)
    assert(Stats.percentile(xs, 100) == 50.0)
  }

  test("percentiles ignore input order") {
    val xs = (1 to 100).map(_.toDouble)
    val shuffled = new scala.util.Random(7).shuffle(xs)
    assert(Stats.percentile(shuffled, 50) == 50.0)
    assert(Stats.percentile(shuffled, 90) == 90.0)
    assert(Stats.percentile(shuffled, 99) == 99.0)
  }

  test("median of an even count is the lower middle sample") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("no samples or a percentile outside (0, 100] is an error") {
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 0))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }
}
