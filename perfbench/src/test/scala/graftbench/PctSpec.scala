package graftbench

import org.scalatest.funsuite.AnyFunSuite

class PctSpec extends AnyFunSuite {
  private val hundred = (1 to 100).map(_.toDouble)

  test("nearest rank picks a sample, never an interpolation") {
    assert(Pct.nearestRank(hundred, 50) == 50.0)
    assert(Pct.nearestRank(hundred, 95) == 95.0)
    assert(Pct.nearestRank(hundred, 100) == 100.0)
    assert(Pct.nearestRank(Seq(3.0, 1.0, 2.0, 4.0), 50) == 2.0)
    assert(Pct.nearestRank(Seq(7.0), 99.9) == 7.0)
  }

  test("ranks are exact where p/100 * n is a whole number") {
    // 0.95 * 200 is 190.00000000000003 in floating point
    assert(Pct.rank(200, 95) == 190)
    assert(Pct.rank(1000, 99.9) == 999)
  }

  test("a percentile is supported only with at least ten samples beyond it") {
    assert(Pct.beyond(200, 95) == 10)
    assert(Pct.supported(200, 95))
    assert(!Pct.supported(199, 95))
    assert(Pct.highestSupported(200).contains(95.0))
    assert(Pct.highestSupported(40).contains(75.0))
    assert(Pct.highestSupported(20).contains(50.0))
    assert(Pct.highestSupported(19).isEmpty)
    assert(Pct.highestSupported(1000000).contains(99.9))
  }

  test("a summary carries its sample count and the tail it supports") {
    val s = Pct.summary(hundred)
    assert(s.n == 100 && s.p50 == 50.0 && s.tailPct == 90.0 && s.tail == 90.0)
    val text = s.render("commit", "ms")
    assert(text.contains("n=100") && text.contains("p50=50.000"))
    assert(Pct.summary(Nil).render("commit", "ms").contains("n=0"))
  }

  test("open-loop latency runs from the due time, not the send time") {
    val due = 1000000000L
    val sent = due + 40000000L // the generator ran 40 ms late
    val done = sent + 10000000L
    assert(Pct.fromDue(due, done) == 50.0)
  }

  test("geometric mean") {
    assert(math.abs(Pct.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    assert(Pct.geomean(Nil).isNaN)
  }

  test("busy time is the union of task intervals") {
    assert(SparkLayer.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(SparkLayer.unionMs(Nil) == 0L)
  }
}
