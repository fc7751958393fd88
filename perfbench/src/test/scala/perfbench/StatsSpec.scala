package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def samples(n: Int): Seq[Double] = (1 to n).map(_.toDouble)

  test("the tail is the highest percentile with 10 samples beyond it") {
    val t = Stats.tail(samples(40))
    assert(t.percentile == 75.0)
    assert(t.value == 30.0)
    assert(t.beyond == 10)
    assert(t.n == 40)
    assert(Stats.tail(samples(100)) == Stats.Tail(90.0, 90.0, 10, 100))
    assert(Stats.tail(samples(1000)).percentile == 99.0)
    assert(Stats.tail(samples(10000)).percentile == 99.9)
  }

  test("one more sample beyond would not fit") {
    // p90 of 99 samples is rank 90, which leaves only 9 beyond
    val t = Stats.tail(samples(99))
    assert(t.beyond == 10)
    assert(t.value == 89.0)
    assert(Stats.rank(t.percentile, 99) == 89)
    assert(99 - Stats.rank(t.percentile + 0.5, 99) < 10)
  }

  test("the tail is the same order statistic from the top when the count changes") {
    val few = Stats.tail((1 to 37).map(_.toDouble))
    val more = Stats.tail((1 to 42).map(_.toDouble))
    assert(few.value == 27.0 && more.value == 32.0)
    assert(few.beyond == 10 && more.beyond == 10)
  }

  test("with exactly 20 samples the tail is the median") {
    assert(Stats.tail(samples(20)) == Stats.Tail(50.0, 10.0, 10, 20))
  }

  test("too few samples fall back to the median and report the shortfall") {
    val t = Stats.tail(samples(12))
    assert(t.percentile == 50.0)
    assert(t.value == 6.0)
    assert(t.beyond == 6)
  }

  test("the tail does not depend on sample order") {
    val xs = scala.util.Random.shuffle(samples(60))
    assert(Stats.tail(xs) == Stats.tail(samples(60)))
  }

  test("median and nearest rank") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.rank(50, 10) == 5)
    assert(Stats.rank(100, 10) == 10)
    assert(Stats.rank(1, 10) == 1)
  }
}
