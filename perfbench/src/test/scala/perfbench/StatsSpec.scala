package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def samples(n: Int) = (1 to n).map(_.toDouble)

  test("nearest rank is exact where p*n/100 is a whole number") {
    assert(Stats.rank(100, 90.0) == 90)
    assert(Stats.rank(100, 99.9) == 100)
    assert(Stats.rank(1000, 99.9) == 999)
    assert(Stats.rank(3, 50.0) == 2)
    assert(Stats.percentile(samples(100), 90.0) == 90.0)
  }

  test("the tail is the highest ladder percentile with ten samples beyond it") {
    val cases = Seq(40 -> 75.0, 99 -> 75.0, 100 -> 90.0, 200 -> 95.0, 1000 -> 99.0,
      10000 -> 99.9)
    cases.foreach { case (n, p) =>
      val t = Stats.tail(samples(n))
      assert(t.percentile == p, s"n=$n")
      assert(t.beyond >= 10 && t.samples == n)
      assert(t.value == Stats.percentile(samples(n), p))
    }
    assert(Stats.tail(samples(100)).beyond == 10)
  }

  test("below 40 samples the tail is the median, with the count beyond its rank") {
    val t = Stats.tail(samples(39))
    assert(t.percentile == 50.0 && t.value == 20.0 && t.beyond == 19)
    val even = Stats.tail(samples(24))
    assert(even.value == Stats.median(samples(24)) && even.value == 12.5)
    assert(Stats.tail(Seq(3.0)).value == 3.0)
  }
}
