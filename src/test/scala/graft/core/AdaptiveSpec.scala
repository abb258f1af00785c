package graft.core

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
import org.apache.spark.sql.functions._

/** Width rules of [[Adaptive]]: decided from plan statistics alone,
  * size-derived for a one-split scan, no exchange of their own for a
  * scan that already arrives split, and no sampling job at width 1.
  */
class AdaptiveSpec extends SparkSpec {
  import spark.implicits._

  private lazy val path = {
    val p = java.nio.file.Files.createTempDirectory("adaptive").toString + "/t"
    (1 to 2000).map(i => (i.toLong, s"doc $i " + ("word " * (i % 17))))
      .toDF("doc_id", "text").coalesce(1).write.parquet(p)
    p
  }
  private def frame: DataFrame = spark.read.parquet(path)
  private def bytes: Long = frame.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
  private def par: Int = spark.sparkContext.defaultParallelism

  private def rangeWidth(df: DataFrame): Option[Int] =
    df.queryExecution.logical.collectFirst {
      case r: RepartitionByExpression => r.numPartitions
    }

  private def spreadWidth(df: DataFrame): Option[Int] =
    df.queryExecution.logical.collectFirst { case r: Repartition => r.numPartitions }

  /** Jobs `action` launches, counted by a listener. A marker job run
    * after it closes the count: the bus delivers events in order, so
    * once the marker's start is seen every earlier start has been.
    */
  private def jobsOf(action: => Unit): Int = {
    val marker = s"adaptive-spec-marker-${System.nanoTime}"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!starts.contains(marker) && System.nanoTime < deadline) Thread.sleep(10)
      assert(starts.contains(marker), "listener never saw the marker job")
      starts.size - 1
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def withMaxPartitionBytes[T](b: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, b.toString)
    try body finally spark.conf.set(key, prev)
  }

  test("a tiny frame gets width 1 and its range exchange launches no sampling job") {
    // built outside the counted actions: reading parquet infers its
    // schema with a job of its own
    val f = frame
    val ranged = Adaptive.rangeForCpu(f, bytes * 10, col("doc_id"))
    assert(rangeWidth(ranged) === Some(1))
    // a hash exchange of the same width never samples; a range exchange
    // two wide does, and the counter sees that extra job
    val hashJobs = jobsOf(f.repartition(1, col("doc_id")).collect())
    assert(jobsOf(f.repartitionByRange(2, col("doc_id")).collect()) === hashJobs + 1)
    assert(jobsOf(ranged.collect()) === hashJobs)
  }

  test("a one-split frame is range-partitioned at cpuWidth") {
    assume(par > 1, "needs a session with more than one core")
    val per = math.max(1L, bytes / 10)
    val ranged = Adaptive.rangeForCpu(frame, per, col("doc_id"))
    assert(Adaptive.cpuWidth(frame, per) === par)
    assert(rangeWidth(ranged) === Some(par))
    assert(frame.rdd.getNumPartitions === 1)
    // rows keep their values, and each task holds one contiguous key range
    val parts = ranged.select("doc_id").as[Long].rdd.glom().collect().filter(_.nonEmpty)
    assert(parts.length > 1)
    assert(parts.flatten.sorted.toSeq === (1L to 2000L))
    parts.sliding(2).foreach { case Array(a, b) => assert(a.max < b.min) }
  }

  test("a scan that arrives pre-split is left to the orderBy's own exchange") {
    val per = math.max(1L, bytes / 10)
    withMaxPartitionBytes(math.max(1L, bytes / 20)) {
      assert(frame.rdd.getNumPartitions > 1, "the scan did not arrive split")
      assert(rangeWidth(Adaptive.rangeForCpu(frame, per, col("doc_id"))) === None)
    }
  }

  test("spreadForCpu: tiny and pre-split frames pass through, a one-split frame spreads to cpuWidth") {
    assert(spreadWidth(Adaptive.spreadForCpu(frame, bytes * 10)) === None)
    val per = math.max(1L, bytes / 10)
    assert(spreadWidth(Adaptive.spreadForCpu(frame, per)) ===
      Some(Adaptive.cpuWidth(frame, per)).filter(_ > 1))
    withMaxPartitionBytes(math.max(1L, bytes / 20)) {
      assert(spreadWidth(Adaptive.spreadForCpu(frame, per)) === None)
    }
  }
}
