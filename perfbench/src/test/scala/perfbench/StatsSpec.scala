package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 30).map(_.toDouble)
    val t = Stats.tail(scala.util.Random.shuffle(xs))
    assert(t.value == 20.0)
    assert(t.beyond == 10 && xs.count(_ > t.value) == 10)
    assert(math.abs(t.percentile - 100.0 * 20 / 30) < 1e-9)
    assert(t.samples == 30)
  }

  test("tail needs more than twice ten samples to sit above the median") {
    val t21 = Stats.tail((1 to 21).map(_.toDouble))
    assert(t21.value == 11.0 && t21.beyond == 10)
    assert(t21.value >= Stats.median((1 to 21).map(_.toDouble)))
    // 20 samples: the 11th largest is below the median, so report the max
    val t20 = Stats.tail((1 to 20).map(_.toDouble))
    assert(t20.value == 20.0 && t20.beyond == 0 && t20.percentile == 100.0)
    val t2 = Stats.tail(Seq(3.0, 1.0))
    assert(t2.value == 3.0 && t2.beyond == 0 && t2.samples == 2)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("merged length does not count overlapping intervals twice") {
    // two overlapping jobs (0-10, 5-15), one nested (6-8), one disjoint (20-25)
    assert(Stats.mergedLength(Seq((5L, 15L), (0L, 10L), (6L, 8L), (20L, 25L))) == 20L)
    assert(Stats.mergedLength(Seq((0L, 10L), (10L, 12L))) == 12L)
    assert(Stats.mergedLength(Seq.empty) == 0L)
    assert(Stats.mergedLength(Seq((5L, 5L), (7L, 3L))) == 0L)
  }
}
