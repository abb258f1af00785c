package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry

/** One benchmark run of one workload in this JVM: a closed loop with one
  * client, one query at a time, each forced to its full result.
  *
  * Every execution is timed from the call of the query function until
  * the noop sink has forced the full result. The first pass runs in the
  * fresh JVM (codegen, memo fills, file cache); the warm passes follow.
  * In the last pass, each timed execution is followed by an untimed one
  * of the same DataFrame with its result digest as the sink, checked
  * against the committed digest. That checks the memo-hit path, which
  * serves what the cold path memoized; the first pass is left without
  * untimed work between its queries, which would warm the next one. Then
  * the operator cache and Spark's cache are released and the heap
  * collected, untimed, as in `graft.Bench`. With `--trace 1` the warm
  * passes alternate between untraced and traced, the traced ones feed
  * the per-layer metrics, and the difference of their medians is the
  * tracing overhead.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *   --data DIR --expected FILE --work DIR
  * The last line of standard output is the result object.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = Workloads.byName(arg("workload"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val cores = arg("cores").toInt
    val data = arg("data")
    val work = arg("work")
    val expected = Expected.load(arg("expected"))
    wl.queries.foreach { q =>
      require(SparkEntry.queries.contains(q), s"query $q is not registered in SparkEntry.queries")
      require(expected.contains(q), s"no expected digest for $q")
    }

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.start(cores, work, data)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val clock = new Clock
    val runs = collection.mutable.ArrayBuffer.empty[(QueryRun, Boolean)] // (run, traced)
    val problems = collection.mutable.ArrayBuffer.empty[String]

    def check(name: String, df: DataFrame): Option[String] =
      try {
        val d = Digest.of(df)
        if (d == expected(name)) None else Some(s"got $d, expected ${expected(name)}")
      } catch { case e: Throwable => Some(s"output check threw $e") }

    def execute(pass: Int, name: String, checked: Boolean): Unit = {
      val fn = SparkEntry.queries(name)
      val t0 = clock.nowUs()
      var built = t0
      var df: DataFrame = null
      val threw =
        try {
          df = fn(spark, data)
          built = clock.nowUs()
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(s"threw $e") }
      val t1 = clock.nowUs()
      if (built == t0) built = t1
      val problem = threw.orElse(if (checked) check(name, df) else None) // untimed
      problem.foreach { p =>
        problems += s"$name in pass $pass: $p"
        System.err.println(s"[graftbench] $name FAILED in pass $pass: $p")
      }
      runs += QueryRun(pass, name, t0, built, t1, problem.isEmpty) -> tracer.exists(_.on)
      graft.core.OpCache.release()
      spark.catalog.clearCache()
      System.gc()
    }

    // first pass: cold
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    tracer.foreach(_.on = true)
    Workloads.order(wl.queries, seed, 0).foreach(execute(0, _, checked = false))
    tracer.foreach { t => t.drain(); t.on = false }
    val firstPassCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0

    // warm passes; a traced run makes five: an untraced one while the JIT
    // is still settling, left out of the comparison, then traced and
    // untraced in the order T U U T, so drift falls alike on both kinds
    val passes = if (trace) 5 else wl.warmPasses(seconds)
    val tracedPass = (1 to passes).map(p => p -> (trace && p > 1 && ((p - 1) / 2) % 2 == 0)).toMap
    val compiles1 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var heapMb = 0.0
    for (pass <- 1 to passes) {
      // retained heap before the last pass, whose output checks would
      // leave the benchmark's own state on the heap
      if (pass == passes) heapMb = retainedHeapMb()
      tracer.foreach(_.on = tracedPass(pass))
      Workloads.order(wl.queries, seed, pass).foreach(execute(pass, _, checked = pass == passes))
      if (tracedPass(pass)) tracer.foreach { t => t.drain(); t.on = false }
    }
    val warmCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles1

    val kernelRates =
      if (trace) Kernels.measure(texts(spark, data), warmUp = 2, reps = 3) else Nil
    spark.stop()

    // ---- metrics
    val warm = runs.filter { case (r, traced) => r.pass > (if (trace) 1 else 0) && !traced }.map(_._1)
    val passTimes = warm.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.map(_.durUs).sum / 1e6)
    val samples = warm.map(_.durUs / 1e6).toSeq
    // a traced run keeps only its untraced passes here, which may be too few
    val (tailPct, tailS) = Stats.tail(samples).getOrElse(
      if (trace) (Double.NaN, Double.NaN)
      else throw new IllegalStateException(s"${samples.size} samples leave no tail percentile"))
    val attempted = runs.size
    val failed = runs.count(!_._1.ok)
    val firstPass = runs.filter(_._1.pass == 0).map(_._1.durUs).sum / 1e6

    def say(s: String): Unit = println(s"[graftbench] $s")
    say(s"workload=${wl.name} seed=$seed cores=$cores queries=${wl.queries.size} " +
      s"warm_passes=$passes trace=${if (trace) 1 else 0}")
    say(s"first-pass order: ${Workloads.order(wl.queries, seed, 0).mkString(",")}")
    say(s"warm pass times: ${passTimes.map(t => f"$t%.3f").mkString(" ")} s")
    problems.foreach(p => say(s"FAILED $p"))
    wl.queries.foreach { q =>
      val first = runs.find(r => r._1.pass == 0 && r._1.name == q).fold(0.0)(_._1.durUs / 1e6)
      val w = warm.filter(_.name == q).map(_.durUs / 1e6).toSeq
      say(f"query $q%-32s first ${first}%8.3f s   warm median ${Stats.median(w)}%8.3f s")
    }
    val e2e = Seq(
      ("setup_s", setupS, "s", "JVM start to a warmed SparkSession"),
      ("first_pass_s", firstPass, "s", "first pass in a fresh JVM"),
      ("warm_pass_s", Stats.median(passTimes), "s", s"median of ${passTimes.size} warm passes"),
      ("query_p50_s", Stats.median(samples), "s", s"n=${samples.size}"),
      ("query_tail_s", tailS, "s", f"p$tailPct%.1f, n=${samples.size}, 10 samples beyond it"),
      ("retained_heap_mb", heapMb, "MB", "driver heap after a full GC, before the last warm pass"),
      ("fail_ratio", failed.toDouble / attempted, "ratio", s"$failed failed / $attempted attempted"))
    e2e.foreach { case (n, v, u, note) => say(f"$n%-18s $v%12.4f $u%-6s ($note)") }

    val perLayer: Seq[(String, Double, String)] = tracer.toSeq.flatMap { t =>
      val ev = t.events
      val attributed = runs.filter(_._2).map(r => Layers.attribute(r._1, ev))
      val tracedWarm = attributed.filter(_.q.pass > 0)
      val tracedPassTimes = tracedWarm.groupBy(_.q.pass).values.map(_.map(_.q.durUs).sum / 1e6).toSeq
      val layers = Layers.perPass(tracedWarm.map(_.metrics).toSeq, tracedPass.count(_._2), cores)
      writeSpans(Paths.get(work).getParent.resolve("traces")
        .resolve(s"spans-${wl.name}-seed$seed.json"), wl, seed, attributed.toSeq)
      layers.toSeq.sortBy(_._1).map { case (k, v) => (k, v, unitOf(k)) } ++
        kernelRates.map(r => (s"kernel.${r.name}.ns_per_row", r.nsPerRow, "ns")) ++ Seq(
          ("codegen.compiles", warmCompiles.toDouble / passes, "count"),
          ("codegen.first_pass_compiles", firstPassCompiles.toDouble, "count"),
          ("trace.warm_pass_s", Stats.median(tracedPassTimes), "s"),
          ("trace.overhead_s", Stats.median(tracedPassTimes) - Stats.median(passTimes), "s"))
    }
    kernelRates.foreach(r => say(f"kernel ${r.name}%-30s ${r.nsPerRow}%10.1f ns/row over ${r.rows} rows"))
    perLayer.foreach { case (n, v, u) => say(f"$n%-40s $v%16.4f $u") }

    val metrics =
      if (trace) perLayer
      else e2e.filter(_._1 != "fail_ratio").map { case (n, v, u, _) => (n, v, u) }
    val body = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }

  /** Driver heap in use after a full GC, in MiB: the least of three
    * collections, since Spark's cleaner may still hold garbage from the
    * last query when the first one runs.
    */
  private def retainedHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def unitOf(metric: String): String =
    if (metric.endsWith("_s") || metric.endsWith(".s")) "s"
    else if (metric.endsWith("_bytes") || metric.endsWith(".bytes")) "bytes"
    else if (metric == "exec.core_util") "ratio"
    else if (metric == "sched.ms_per_job") "ms"
    else "count"

  private def texts(spark: SparkSession, data: String): Array[UTF8String] =
    spark.read.parquet(s"$data/documents.parquet").select("text").collect()
      .flatMap(r => Option(r.getString(0))).map(UTF8String.fromString)

  private def writeSpans(path: java.nio.file.Path, wl: Workload, seed: Long,
      attributed: Seq[Layers.Attributed]): Unit = {
    var id = 0
    def next(): Int = { id += 1; id }
    val runs = attributed.map(_.q)
    val root = Span(0, -1, "run", s"${wl.name} seed $seed",
      runs.map(_.startUs).min, runs.map(_.endUs).max)
    val spans = root +: attributed.groupBy(_.q.pass).toSeq.sortBy(_._1).flatMap { case (pass, as) =>
      val ps = Span(next(), root.id, "pass", s"pass $pass",
        as.map(_.q.startUs).min, as.map(_.q.endUs).max)
      ps +: as.sortBy(_.q.startUs).flatMap(a => Layers.spans(a, ps.id, () => next()))
    }
    val children = spans.groupBy(_.parent)
    val withSelf = spans.map(s =>
      s.copy(attrs = s.attrs + ("self_s" -> Spans.selfUs(s, children.getOrElse(s.id, Nil)) / 1e6)))
    Files.createDirectories(path.getParent)
    Files.writeString(path, Spans.toJson(withSelf))
    println(s"[graftbench] spans: $path (${spans.size})")
  }
}

/** Epoch microseconds from the monotonic clock, aligned once to the wall
  * clock so they compare with listener event times.
  */
final class Clock {
  private val baseUs = System.currentTimeMillis() * 1000
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000
}

object Session {
  /** The session `graft.Bench` uses, with every scratch path in `work`,
    * warmed the same way so the first query is not charged JVM warm-up.
    */
  def start(cores: Int, work: String, data: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$data/nation.parquet").count()
    spark
  }

  /** Starts and stops one session: `Session <cores> <work> <data>`. */
  def main(args: Array[String]): Unit = start(args(0).toInt, args(1), args(2)).stop()
}

/** The committed digests of every query's result. */
object Expected {
  def load(path: String): Map[String, Digest] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    val it = root.fields()
    val out = Map.newBuilder[String, Digest]
    while (it.hasNext) {
      val e = it.next()
      val v = e.getValue
      out += e.getKey -> Digest(v.get("rows").asLong, v.get("hash").asText, v.get("schema").asText)
    }
    out.result()
  }
}
