package graftbench

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {

  private val qs = (1 to 8).map(i => s"q$i")

  test("the seed permutation is deterministic and a permutation") {
    for (seed <- 0L to 20L; pass <- 0 to 3) {
      val o = Workloads.order(qs, seed, pass)
      assert(o == Workloads.order(qs, seed, pass))
      assert(o.sorted == qs.sorted)
    }
  }

  test("seeds and passes give different orders") {
    assert((0L to 20L).map(Workloads.order(qs, _, 0)).distinct.size > 10)
    assert((0 to 5).map(Workloads.order(qs, 7L, _)).distinct.size > 3)
  }

  test("the order of a seed is pinned") {
    // recorded baselines assume these orders; a change here changes them
    assert(Workloads.order(Seq("a", "b", "c", "d", "e"), 1L, 0) == Seq("b", "e", "d", "a", "c"))
  }

  test("every workload draws at least twenty warm samples over at least three passes") {
    for (w <- Workloads.all; s <- Seq(1, 10, 20, 60)) {
      val k = w.warmPasses(s)
      assert(k >= 3 && k * w.queries.size >= 20, s"${w.name} at $s s")
      // with twenty samples the tail percentile is not below the median
      assert(Stats.tail((1 to k * w.queries.size).map(_.toDouble)).get._1 >= 50.0)
    }
  }
}
