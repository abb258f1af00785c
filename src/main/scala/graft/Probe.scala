package graft
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-query phase probe (round-22 evidence tool, guide §1.5/§7):
  * runs the named queries exactly the way Bench does (noop sink,
  * OpCache.release between runs) and reports, for the SECOND
  * (warm) run, wall seconds plus the JOB / STAGE / TASK counts from a
  * SparkListener. Job count is the measurement the formatted plan
  * cannot show — iterative operators and broadcast-heavy serve DAGs
  * pay a fixed per-job constant that dominates at sf0.1.
  * Not part of the bench harness; Bench.scala is untouched.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val verbose = sys.env.get("SPARK_GRAFT_PROBE_JOBS").contains("1")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) jobStart.put(j.jobId, (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description"))
            .orElse(Option(j.properties.getProperty("callSite.short")))
            .orElse(j.stageInfos.headOption.map(_.name))
            .getOrElse("?")))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (verbose) Option(jobStart.remove(e.jobId)).foreach { case (t0, d) =>
          println(f"[probe-job] ${(System.nanoTime() - t0) / 1e9}%7.3f s  job=${e.jobId}%4d  $d")
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
      }
    })
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/nation.parquet").count()
    } catch { case _: Throwable => () }
    val names = if (args.nonEmpty) args.toSeq else Seq("q32_components")
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      var line = s"$name FAILED"
      (1 to 2).foreach { run =>
        jobs.set(0); stages.set(0); tasks.set(0)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          // listener events are async: wait for the bus to drain
          org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
          line = f"$name%-40s run$run sec=$dt%7.3f jobs=${jobs.get}%4d " +
            f"stages=${stages.get}%4d tasks=${tasks.get}%6d"
        } catch { case e: Throwable =>
          line = s"$name run$run FAILED: ${e.getMessage}"
        }
        graft.core.OpCache.release()
        spark.catalog.clearCache()
        System.gc()
        println(s"[probe] $line")
      }
    }
    spark.stop()
  }
}
