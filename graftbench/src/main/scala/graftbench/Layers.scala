package graftbench

import graftbench.Tracer._

/** One timed query execution: the query function's build of the
  * DataFrame runs from `startUs` to `buildEndUs`, then the noop write
  * executes it to `endUs`. Times are epoch microseconds.
  */
final case class QueryRun(pass: Int, name: String, startUs: Long, buildEndUs: Long,
    endUs: Long, ok: Boolean) {
  def durUs: Long = endUs - startUs
}

/** Listener events captured in one run. */
final case class Events(jobs: Seq[Job], stages: Seq[Stage], tasks: Seq[Task],
    plans: Seq[Plan], batches: Seq[Batch])

/** Splits a query execution's time and work into the layers the
  * benchmark reports, by attributing each listener event to the query
  * whose window contains its start.
  */
object Layers {

  /** Metrics that add up over queries and passes; the ratios below are
    * derived from their totals.
    */
  val Additive: Seq[String] = Seq(
    "build.s", "build.jobs", "build.self_s",
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s", "plan.actions",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.idle_s", "sched.task_wait_s",
    "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.skew_s", "exec.result_bytes",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
    "input.bytes", "input.records", "output.bytes", "output.records",
    "stream.batches", "stream.add_batch_s", "stream.query_planning_s",
    "stream.commit_s", "stream.trigger_s",
    "wall_s", "sched.job_s")

  final case class Attributed(q: QueryRun, metrics: Map[String, Double],
      jobs: Seq[Job], stages: Seq[Stage], tasks: Seq[Task])

  private def inWindow(q: QueryRun, ms: Long): Boolean =
    ms * 1000 + 999 >= q.startUs && ms * 1000 <= q.endUs

  def attribute(q: QueryRun, ev: Events): Attributed = {
    val jobs = ev.jobs.filter(j => inWindow(q, j.startMs))
    val buildJobs = jobs.filter(_.startMs * 1000 < q.buildEndUs)
    val stages = ev.stages.filter(s => inWindow(q, s.submitMs))
    val tasks = ev.tasks.filter(t => inWindow(q, t.launchMs))
    val plans = ev.plans.filter(p => inWindow(q, p.startMs))
    val batches = ev.batches.filter(b => inWindow(q, b.startMs))
    def us(j: Job) = (j.startMs * 1000, j.endMs * 1000)
    val buildUs = q.buildEndUs - q.startUs
    val submitted = stages.map(s => (s.id, s.attempt) -> s.submitMs).toMap
    val byStage = tasks.groupBy(t => (t.stageId, t.attempt))
    val skewMs = byStage.values.map { ts =>
      val d = ts.map(t => (t.finishMs - t.launchMs).toDouble)
      d.max - Stats.median(d)
    }.sum
    def sumL(f: Task => Long): Double = tasks.map(f).sum.toDouble
    val m = Map[String, Double](
      "build.s" -> buildUs / 1e6,
      "build.jobs" -> buildJobs.size,
      "build.self_s" -> (buildUs - Spans.covered(q.startUs, q.buildEndUs, buildJobs.map(us))) / 1e6,
      "plan.analysis_s" -> plans.map(_.analysisMs).sum / 1e3,
      "plan.optimization_s" -> plans.map(_.optimizationMs).sum / 1e3,
      "plan.planning_s" -> plans.map(_.planningMs).sum / 1e3,
      "plan.actions" -> plans.size,
      "sched.jobs" -> jobs.size,
      "sched.stages" -> stages.size,
      "sched.tasks" -> tasks.size,
      "sched.idle_s" -> (q.durUs - Spans.covered(q.startUs, q.endUs, jobs.map(us))) / 1e6,
      "sched.task_wait_s" -> tasks.flatMap(t =>
        submitted.get((t.stageId, t.attempt)).map(s => math.max(0L, t.launchMs - s))).sum / 1e3,
      "sched.job_s" -> jobs.map(j => j.endMs - j.startMs).sum / 1e3,
      "exec.task_run_s" -> sumL(_.runMs) / 1e3,
      "exec.task_cpu_s" -> sumL(_.cpuNs) / 1e9,
      "exec.gc_s" -> sumL(_.gcMs) / 1e3,
      "exec.skew_s" -> skewMs / 1e3,
      "exec.result_bytes" -> sumL(_.resultBytes),
      "shuffle.write_bytes" -> sumL(_.shuffleWrite),
      "shuffle.read_bytes" -> sumL(_.shuffleRead),
      "shuffle.spill_bytes" -> sumL(_.spillBytes),
      "input.bytes" -> sumL(_.inputBytes),
      "input.records" -> sumL(_.inputRecords),
      "output.bytes" -> sumL(_.outputBytes),
      "output.records" -> sumL(_.outputRecords),
      "stream.batches" -> batches.size,
      "stream.add_batch_s" -> batches.map(_.addBatchMs).sum / 1e3,
      "stream.query_planning_s" -> batches.map(_.planningMs).sum / 1e3,
      "stream.commit_s" -> batches.map(_.commitMs).sum / 1e3,
      "stream.trigger_s" -> batches.map(_.triggerMs).sum / 1e3,
      "wall_s" -> q.durUs / 1e6)
    Attributed(q, m, jobs, stages, tasks)
  }

  /** Sums the additive metrics of `runs` divided by `passes`, and derives
    * the ratios from those totals.
    */
  def perPass(runs: Seq[Map[String, Double]], passes: Int, cores: Int): Map[String, Double] = {
    val tot = Additive.map(k => k -> runs.map(_.getOrElse(k, 0.0)).sum).toMap
    val per = tot.map { case (k, v) => k -> v / passes }
    per - "wall_s" - "sched.job_s" ++ Map(
      "sched.ms_per_job" -> (if (tot("sched.jobs") > 0) 1000 * tot("sched.job_s") / tot("sched.jobs") else 0.0),
      "exec.core_util" -> (if (tot("wall_s") > 0) tot("exec.task_run_s") / (tot("wall_s") * cores) else 0.0))
  }

  /** The query's spans below the pass: query → {build, execute} → job → stage. */
  def spans(a: Attributed, passSpan: Int, nextId: () => Int): Seq[Span] = {
    val q = a.q
    val qs = Span(nextId(), passSpan, "query", q.name, q.startUs, q.endUs,
      a.metrics + ("ok" -> (if (q.ok) 1.0 else 0.0)))
    val build = Span(nextId(), qs.id, "build", q.name, q.startUs, q.buildEndUs)
    val exec = Span(nextId(), qs.id, "execute", q.name, q.buildEndUs, q.endUs)
    val jobSpans = a.jobs.sortBy(_.startMs).map { j =>
      val parent = if (j.startMs * 1000 < q.buildEndUs) build.id else exec.id
      j -> Span(nextId(), parent, "job", s"job ${j.id}", j.startMs * 1000, j.endMs * 1000,
        Map("stages" -> j.stageIds.size.toDouble))
    }
    val jobOfStage = jobSpans.flatMap { case (j, s) => j.stageIds.map(_ -> s.id) }.toMap
    val stageSpans = a.stages.sortBy(_.submitMs).map { st =>
      val ts = a.tasks.filter(t => t.stageId == st.id && t.attempt == st.attempt)
      Span(nextId(), jobOfStage.getOrElse(st.id, qs.id), "stage", s"stage ${st.id}.${st.attempt}",
        st.submitMs * 1000, st.endMs * 1000,
        Map("tasks" -> ts.size.toDouble, "task_run_s" -> ts.map(_.runMs).sum / 1e3,
          "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9))
    }
    Seq(qs, build, exec) ++ jobSpans.map(_._2) ++ stageSpans
  }
}
