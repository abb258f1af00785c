package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}

/** The bounded-stream runner behind the streaming gate queries
  * ([[Queries.streamGate]], [[Queries.streamServe]]): the session confs
  * it clamps come back on success and on failure, the checkpoint goes
  * and the memoized input stays, serve batches run under the clamp, and
  * a re-executed serve batch overwrites its own directory.
  */
class StreamRunnerSpec extends SparkSpec {
  import spark.implicits._

  private val Parts = "spark.sql.shuffle.partitions"
  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val dir = java.nio.file.Files.createTempDirectory("stream_runner").toString

  private def fixture: DataFrame =
    spark.range(0, 20).select(col("id").as("doc_id"), (col("id") % 3).as("k"))

  /** Runs `body` with the two runner confs at values the runner never
    * sets, then restores the session's own.
    */
  private def withSessionConfs(body: => Unit): Unit = {
    val prev = Seq(Parts, NoData).map(k => k -> spark.conf.get(k))
    spark.conf.set(Parts, "7")
    spark.conf.set(NoData, "true")
    try body finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  private def assertConfsRestored(): Unit = {
    assert(spark.conf.get(Parts) === "7")
    assert(spark.conf.get(NoData) === "true")
  }

  /** The run dir of a read-back sink: the parent of its `out` dir. */
  private def runDir(sink: DataFrame): java.nio.file.Path = {
    val file = java.nio.file.Paths.get(new java.net.URI(sink.inputFiles.head))
    Iterator.iterate(file)(_.getParent).find(_.getFileName.toString == "out").get.getParent
  }

  private val clamp = math.min(4, spark.sparkContext.defaultParallelism).toString

  test("gate run: confs restored, checkpoint dropped, memoized input kept") {
    withSessionConfs {
      val sink = Queries.streamGate("spec_gate", dir, fixture)(
        _.select(col("doc_id"), (col("k") * 2).as("k2")))
      assertConfsRestored()
      assert(sink.count() === 20)
      assert(sink.filter(col("k2") =!= (col("doc_id") % 3) * 2).isEmpty)
      val run = runDir(sink)
      assert(!java.nio.file.Files.exists(run.resolve("chk")), s"checkpoint left in $run")
      val in = Queries.memoFrame("spec_gate", dir, fixture)
      assert(spark.read.parquet(in).count() === 20)
    }
  }

  test("gate run: confs restored when the operator throws mid-stream") {
    val boom = udf((x: Long) => { if (x == 5L) throw new IllegalStateException("boom"); x })
    withSessionConfs {
      intercept[Exception] {
        Queries.streamGate("spec_gate_fail", dir, fixture)(
          _.select(boom(col("doc_id")).as("doc_id")))
      }
      assertConfsRestored()
    }
  }

  test("serve run: every batch sees the clamped shuffle partitions, confs restored") {
    assert(clamp !== "7")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    withSessionConfs {
      // the q224 shape: collect the batch's queries, serve them from
      // the outer session
      val sink = Queries.streamServe("spec_serve", dir, fixture) { batch =>
        seen.add(batch.sparkSession.conf.get(Parts))
        seen.add(spark.conf.get(Parts))
        val ids = batch.select("doc_id").as[Long].collect().toSeq
        Option.when(ids.nonEmpty)(ids.toDF("doc_id"))
      }
      assertConfsRestored()
      assert(sink.count() === 20)
      assert(!java.nio.file.Files.exists(runDir(sink).resolve("chk")))
    }
    assert(!seen.isEmpty)
    seen.forEach(p => assert(p === clamp))
  }

  test("serve run: confs restored when the serve throws") {
    withSessionConfs {
      intercept[Exception] {
        Queries.streamServe("spec_serve_fail", dir, fixture)(
          _ => throw new IllegalStateException("boom"))
      }
      assertConfsRestored()
    }
  }

  test("a re-executed serve batchId overwrites its directory instead of appending") {
    val out = java.nio.file.Files.createTempDirectory("serve_batch").toString
    Queries.serveBatch(out, b => Some(b))(fixture, 0L)
    Queries.serveBatch(out, b => Some(b.filter(col("doc_id") < 5)))(fixture, 0L)
    assert(spark.read.parquet(s"$out/b0").count() === 5)
    Queries.serveBatch(out, _ => None)(fixture, 1L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/b1")))
  }
}
