package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graftbench.Tracer._

class SpansSpec extends AnyFunSuite {

  test("overlapping children are counted once, clipped to the parent") {
    val parent = Span(1, 0, "build", "q", 0, 100)
    val kids = Seq((10L, 30L), (20L, 50L), (25L, 40L), (60L, 70L), (90L, 120L), (150L, 160L))
      .zipWithIndex.map { case ((s, e), i) => Span(10 + i, 1, "job", s"j$i", s, e) }
    assert(Spans.covered(0, 100, kids.map(k => (k.startUs, k.endUs))) == 40 + 10 + 10)
    assert(Spans.selfUs(parent, kids) == 40)
  }

  test("no children: self time is the whole span; full cover: zero") {
    val p = Span(1, 0, "execute", "q", 1000, 2000)
    assert(Spans.selfUs(p, Nil) == 1000)
    assert(Spans.selfUs(p, Seq(Span(2, 1, "job", "j", 900, 2100))) == 0)
  }

  test("a query's build self time and idle time come from its job spans") {
    // query 0..1000 ms, built by 600 ms; two overlapping build jobs and one execute job
    val q = QueryRun(1, "q", 0L, 600000L, 1000000L, ok = true)
    val ev = Events(
      jobs = Seq(Job(1, 100, 300, Seq(1)), Job(2, 200, 400, Seq(2)), Job(3, 700, 900, Seq(3)),
        Job(4, 1500, 1600, Seq(4))),
      stages = Seq(Stage(3, 0, 700, 900)),
      tasks = Seq(
        Task(3, 0, 710, 800, 90, 80000000L, 5, 100, 0, 0, 0, 10, 1, 0, 0),
        Task(3, 0, 720, 890, 170, 150000000L, 0, 200, 0, 0, 0, 20, 2, 0, 0)),
      plans = Nil, batches = Nil)
    val m = Layers.attribute(q, ev).metrics
    assert(m("build.jobs") == 2)
    assert(m("sched.jobs") == 3)
    assert(math.abs(m("build.self_s") - 0.3) < 1e-9)
    assert(math.abs(m("sched.idle_s") - 0.5) < 1e-9)
    assert(math.abs(m("sched.task_wait_s") - 0.03) < 1e-9)
    assert(math.abs(m("exec.skew_s") - 0.04) < 1e-9)
    assert(m("exec.result_bytes") == 300)
  }
}
