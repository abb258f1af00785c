package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = scala.util.Random.shuffle((1 to 20).map(_.toDouble))
    val (pct, v) = Stats.tail(xs).get
    assert(v == 10.0)
    assert(pct == 50.0)
    assert(xs.count(_ > v) == 10)
  }

  test("eleven samples give the smallest one; ten give none") {
    val eleven = (1 to 11).map(_ * 0.5)
    assert(Stats.tail(eleven) == Some((100.0 / 11, 0.5)))
    assert(Stats.tail(eleven.take(10)).isEmpty)
  }

  test("tail moves up as samples are added") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Some((90.0, 90.0)))
    assert(Stats.tail(xs, beyond = 1) == Some((99.0, 99.0)))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
