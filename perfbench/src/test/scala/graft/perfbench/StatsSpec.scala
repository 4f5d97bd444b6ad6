package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def samples(n: Int): Seq[Double] = (1 to n).map(_.toDouble).reverse

  test("tail reports the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail(samples(100)) == Some((90.0, 90.0)))
    assert(Stats.tail(samples(200)) == Some((95.0, 190.0)))
    assert(Stats.tail(samples(1000)) == Some((99.0, 990.0)))
    assert(Stats.tail(samples(10000)) == Some((99.9, 9990.0)))
  }

  test("no tail below 100 samples: p90 needs ten beyond it") {
    assert(Stats.tail(samples(99)).isEmpty)
    assert(Stats.tail(samples(20)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("median averages the middle pair; percentiles use nearest rank") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile(samples(10), 90) == 9.0)
    assert(Stats.percentile(samples(10), 91) == 10.0)
    assert(Stats.percentile(Seq(7.0), 50) == 7.0)
  }
}
