package perfbench

import org.scalatest.funsuite.AnyFunSuite

class RequestsSpec extends AnyFunSuite {
  test("the same seed gives an identical request list; another seed another order") {
    assert(Requests.calls(11L) == Requests.calls(11L))
    assert(Requests.calls(11L) != Requests.calls(12L))
  }

  test("every seed sends the same calls, in the endpoint mix; only flights follow cursors") {
    val calls = Requests.calls(3L)
    assert(calls.sortBy(_.req.key) == Requests.calls(4L).sortBy(_.req.key))
    val counts = calls.groupBy(_.req.kind).map { case (k, v) => k -> v.length }
    assert(counts == Map("flights" -> 10, "metrics" -> 4, "top_routes" -> 3, "airports" -> 3))
    assert(calls.forall(c => c.follows >= 0 && c.follows <= Requests.MaxFollows))
    assert(calls.filter(_.req.kind != "flights").forall(_.follows == 0))
    assert(calls.map(_.follows).toSet == (0 to Requests.MaxFollows).toSet)
  }

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 99.9) == 100.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    def ramp(n: Int) = (1 to n).map(_.toDouble)
    assert(Stats.tail(ramp(100)) == ((90.0, 90.0))) // 10 samples above p90
    assert(Stats.tail(ramp(99))._1 == 75.0) // p90 would leave only 9 beyond
    assert(Stats.tail(ramp(200)) == ((95.0, 190.0)))
    assert(Stats.tail(ramp(1000)) == ((99.0, 990.0)))
    assert(Stats.tail(ramp(10000))._1 == 99.9)
    assert(Stats.tail(ramp(20)) == ((50.0, 10.0)))
    assert(Stats.tail(ramp(5)) == ((50.0, 3.0))) // too few samples: the median
  }
}
