package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def xs(n: Int) = (1 to n).map(_.toDouble)

  test("tail is the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tail(xs(100)) == Some(90.0 -> 90.0))
    assert(Stats.tail(xs(1000)) == Some(99.0 -> 990.0))
    assert(Stats.tail(xs(40)) == Some(75.0 -> 30.0))
    assert(Stats.tail(xs(20)) == Some(50.0 -> 10.0))
  }

  test("no tail when even the median has fewer than 10 samples beyond it") {
    assert(Stats.tail(xs(19)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("tail ignores sample order") {
    assert(Stats.tail(scala.util.Random.shuffle(xs(100))) == Stats.tail(xs(100)))
  }

  test("median and quartiles interpolate like numpy") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(xs(5), 0.25) == 2.0)
  }

  test("span self time subtracts the union of child intervals") {
    val spans = Seq(Span(0, -1, "op", "op", 0, 100), Span(1, 0, "stage", "a", 10, 40),
      Span(2, 0, "stage", "b", 30, 60), Span(3, 0, "stage", "c", 90, 120))
    assert(Trace.selfTimes(spans)(0) == 100 - 50 - 10)
    assert(Trace.union(Seq((0L, 5L), (3L, 8L), (10L, 12L))) == 10)
  }
}
