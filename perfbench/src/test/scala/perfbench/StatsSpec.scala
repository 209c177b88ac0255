package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble).reverse
    val (v, pct) = Stats.tail(xs)
    assert(v == 90.0)
    assert(pct == 90.0)
    assert(xs.count(_ > v) == 10)
  }

  test("tail keeps 10 samples beyond it at any sample count") {
    for (n <- Seq(11, 12, 37, 250, 2369)) {
      val xs = (1 to n).map(i => i * 1.5)
      val (v, pct) = Stats.tail(xs)
      assert(xs.count(_ > v) == 10, s"n=$n")
      assert(math.abs(pct - 100.0 * (n - 10) / n) < 1e-9, s"n=$n")
    }
  }

  test("with 10 samples or fewer the tail is the maximum, at the 100th percentile") {
    assert(Stats.tail(Seq(5.0, 1.0, 9.0)) == ((9.0, 100.0)))
    assert(Stats.tail((1 to 10).map(_.toDouble)) == ((10.0, 100.0)))
  }
}
