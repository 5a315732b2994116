package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile is the highest ladder rung with >= 10 samples beyond it") {
    assert(Stats.tailPercentile(19) == 50) // even the median has only 9 beyond
    assert(Stats.tailPercentile(20) == 50)
    assert(Stats.tailPercentile(39) == 50) // p75 rank 30 leaves 9
    assert(Stats.tailPercentile(40) == 75)
    assert(Stats.tailPercentile(99) == 75)
    assert(Stats.tailPercentile(100) == 90)
    assert(Stats.tailPercentile(199) == 90)
    assert(Stats.tailPercentile(200) == 95)
    assert(Stats.tailPercentile(1000) == 99)
  }

  test("the chosen rung really leaves >= 10 samples above it") {
    (20 to 2000).foreach { n =>
      val xs = (1 to n).map(_.toDouble)
      val p = Stats.tailPercentile(n)
      assert(xs.count(_ > Stats.percentile(xs, p)) >= 10, s"n=$n p=$p")
    }
  }

  test("nearest-rank percentile and median") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 1) == 1.0)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 90) == 90.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time is the span minus the union of its children") {
    assert(Stats.selfTime((0L, 100L), Nil) == 100)
    // overlapping children count once: [10,40) covers 30
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L))) == 70)
    // children are clipped to the parent: [90,120) covers 10
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60)
    // a child wholly outside, or empty, covers nothing
    assert(Stats.selfTime((0L, 100L), Seq((150L, 200L), (50L, 50L))) == 100)
    // children that tile the parent leave no self time
    assert(Stats.selfTime((0L, 100L), Seq((0L, 60L), (60L, 100L))) == 0)
  }

  test("union length merges touching and nested intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20)
    assert(Stats.unionLength(Seq((0L, 50L), (10L, 20L), (60L, 70L))) == 60)
    assert(Stats.unionLength(Nil) == 0)
  }
}
