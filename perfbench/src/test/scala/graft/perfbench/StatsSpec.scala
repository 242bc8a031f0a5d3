package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile is reported only with ten samples beyond it") {
    val xs = (1 to 19).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5).isEmpty) // rank 10 leaves 9 above
    assert(Stats.percentile(xs :+ 20.0, 0.5).contains(10.0))
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(hundred, 0.9).contains(90.0))
    assert(Stats.percentile(hundred.init, 0.9).isEmpty)
    assert(Stats.percentile(Nil, 0.5).isEmpty)
  }

  test("a percentile does not depend on sample order") {
    val xs = (1 to 40).map(i => (i * 7919 % 101).toDouble)
    val shuffled = new scala.util.Random(3).shuffle(xs)
    assert(Stats.percentile(xs, 0.5) == Stats.percentile(shuffled, 0.5))
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("a pass order is a permutation fixed by seed and pass") {
    val es = (1 to 12).map(i => s"e$i")
    val a = Stats.passOrder(es, 7, 1)
    assert(a.sorted == es.sorted)
    assert(a == Stats.passOrder(es, 7, 1))
    assert(a != Stats.passOrder(es, 7, 2) || a != Stats.passOrder(es, 8, 1))
  }

  test("self time subtracts the union of children, clipped to the parent") {
    // overlapping children count once
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 60L))) == 50)
    // a child that starts before or ends after its parent is clipped
    assert(Stats.selfTime(100, 200, Seq((50L, 150L), (180L, 400L))) == 30)
    // children covering more than the parent never make it negative
    assert(Stats.selfTime(0, 10, Seq((-5L, 5L), (0L, 10L), (2L, 30L))) == 0)
    // children outside the parent and empty children do not count
    assert(Stats.selfTime(0, 10, Seq((20L, 30L), (5L, 5L))) == 10)
    assert(Stats.selfTime(0, 10, Nil) == 10)
  }

  test("self time is never negative and never above the span") {
    val rnd = new scala.util.Random(11)
    (1 to 500).foreach { _ =>
      val a = rnd.nextInt(1000).toLong
      val b = a + rnd.nextInt(1000)
      val kids = Seq.fill(rnd.nextInt(6)) {
        val s = rnd.nextInt(2400).toLong - 200
        (s, s + rnd.nextInt(500))
      }
      val self = Stats.selfTime(a, b, kids)
      assert(self >= 0 && self <= b - a, s"span ($a, $b) children $kids")
    }
  }
}
