package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what Spark reports through its public listeners while
  * `on` is set: jobs, stages and tasks (SparkListener), Catalyst phase
  * times per Dataset action (QueryExecutionListener), and micro-batch
  * phase times (StreamingQueryListener). Events arrive asynchronously
  * and are attributed to queries afterwards by time, since the
  * benchmark runs one query at a time. All times are epoch milliseconds.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile var on = false

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[Plan]()
  private val batches = new ConcurrentLinkedQueue[Batch]()

  private val jobStarts = new ConcurrentHashMap[Int, (Long, Seq[Int])]()
  private val streamsStarted = new AtomicInteger()
  private val streamsEnded = new AtomicInteger()
  @volatile private var drainLatch: CountDownLatch = null

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == DrainGroup) jobStarts.put(e.jobId, (-1L, Nil))
      else if (on) jobStarts.put(e.jobId, (e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, stageIds) =>
        if (t0 < 0) Option(drainLatch).foreach(_.countDown())
        else jobs.add(Job(e.jobId, t0, e.time, stageIds))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val s = e.stageInfo
      stages.add(Stage(s.stageId, s.attemptNumber(), s.submissionTime.getOrElse(0L),
        s.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add(Task(e.stageId, e.stageAttemptId, e.taskInfo.launchTime,
          e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.resultSize, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
      }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    private def record(qe: QueryExecution, durationNs: Long): Unit = if (on) {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).fold(0L)(_.durationMs)
      val start = phases.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis() - durationNs / 1000000)
      plans.add(Plan(start, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L)
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamsStarted.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
      batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
        ms("addBatch"), ms("queryPlanning"), ms("walCommit") + ms("commitOffsets"),
        ms("triggerExecution")))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamsEnded.incrementAndGet()
  })

  /** Everything recorded so far. */
  def events: Events = Events(jobs.asScala.toSeq, stages.asScala.toSeq, tasks.asScala.toSeq,
    plans.asScala.toSeq, batches.asScala.toSeq)

  /** Waits until every event posted so far has been delivered. Listener
    * queues deliver in order, so once a marker job's end event arrives,
    * every earlier job, stage, task and Dataset-action event has too;
    * streaming events are in once every started query's termination is.
    */
  def drain(): Unit = {
    val sc = spark.sparkContext
    drainLatch = new CountDownLatch(1)
    sc.setJobGroup(DrainGroup, "listener drain marker")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    if (!drainLatch.await(30, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 30 s")
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (streamsEnded.get < streamsStarted.get && System.nanoTime() < deadline)
      Thread.sleep(5)
  }
}

object Tracer {
  val DrainGroup = "graftbench-drain"

  final case class Job(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, submitMs: Long, endMs: Long)
  final case class Task(stageId: Int, attempt: Int, launchMs: Long, finishMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, resultBytes: Long, shuffleWrite: Long,
      shuffleRead: Long, spillBytes: Long, inputBytes: Long, inputRecords: Long,
      outputBytes: Long, outputRecords: Long)
  final case class Plan(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)
  final case class Batch(startMs: Long, addBatchMs: Long, planningMs: Long,
      commitMs: Long, triggerMs: Long)
}
