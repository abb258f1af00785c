package graft.core

import graft.SparkSpec
import graft.operators.Similarity

/** Cache-lifecycle contract: operator-internal persists are registered
  * with [[OpCache]] and releasable by a long-lived session without
  * nuking the caller's own caches — and release actually frees the
  * blocks (the round-7 leak: quantizedTopK's three persisted frames
  * lived until someone happened to clearCache the whole session).
  */
class OpCacheSpec extends SparkSpec {
  import spark.implicits._

  test("operator persists register with OpCache; release frees the blocks, caller caches survive") {
    spark.catalog.clearCache()
    OpCache.release(blocking = true)

    // a CALLER-owned cache that must survive an OpCache.release
    val mine = (1 to 100).toDF("x").cache()
    mine.count()

    val emb = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 17 + d * 5) % 11).toFloat / 11f - 0.4f)))
      .toDF("vec_id", "embedding")
    val q = Similarity.quantizedTopK(emb.filter($"vec_id" < 5), emb,
      "vec_id", "embedding", k = 3)
    q.collect()

    assert(OpCache.registered >= 3,
      s"quantizedTopK should register its q/c/slim persists, got ${OpCache.registered}")
    val cachedDuring = spark.sparkContext.getPersistentRDDs.size
    assert(cachedDuring > 1, s"expected operator blocks + caller cache, got $cachedDuring")

    OpCache.release(blocking = true)
    assert(OpCache.registered === 0)
    // only the caller's cache remains
    assert(spark.sparkContext.getPersistentRDDs.size === 1,
      "release should free exactly the operator-internal blocks")
    assert(mine.count() === 100)

    // the released result is still correct (recompute path intact)
    assert(q.collect().nonEmpty)
    mine.unpersist(true)
    spark.catalog.clearCache()
    OpCache.release(blocking = true)
  }

  test("scoped release frees ONE operator call's blocks; the other in-flight call keeps its persists") {
    spark.catalog.clearCache()
    OpCache.release(blocking = true)

    val emb = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 17 + d * 5) % 11).toFloat / 11f - 0.4f)))
      .toDF("vec_id", "embedding")

    // two interleaved operator calls, each under its own scope — the
    // ADVICE hazard: releasing after the FIRST materializes must not
    // drop the persisted intermediates backing the SECOND, still-lazy
    // result
    val (q1, s1) = OpCache.scoped(
      Similarity.quantizedTopK(emb.filter($"vec_id" < 5), emb, "vec_id", "embedding", k = 3))
    val (q2, s2) = OpCache.scoped(
      Similarity.quantizedTopK(emb.filter($"vec_id" >= 35), emb, "vec_id", "embedding", k = 3))
    assert(s1.registered >= 3 && s2.registered >= 3)
    assert(OpCache.registered === s1.registered + s2.registered,
      "scoped frames must also be globally registered")

    q1.collect()
    s1.release(blocking = true)
    assert(s1.registered === 0)
    // q2's intermediates survive: still registered, still marked
    // persisted (no RDD blocks yet — q2 is lazy until its action)
    assert(s2.registered >= 3)
    assert(OpCache.registered === s2.registered)

    assert(q2.collect().nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "scope 2's persists must still cache at materialization")
    s2.release(blocking = true)
    assert(OpCache.registered === 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("concurrent scoped operator calls race-free: each scope tracks only its own persists") {
    spark.catalog.clearCache()
    OpCache.release(blocking = true)

    val emb = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 13 + d * 7) % 11).toFloat / 11f - 0.4f)))
      .toDF("vec_id", "embedding")

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val calls = (0 until 4).map { t =>
      Future(OpCache.scoped {
        Similarity.quantizedTopK(
          emb.filter($"vec_id" % 4 === t), emb, "vec_id", "embedding", k = 2)
      })
    }
    val done = Await.result(Future.sequence(calls), 120.seconds)
    val total = done.map(_._2.registered).sum
    assert(done.forall(_._2.registered >= 3))
    assert(OpCache.registered === total,
      "thread-local scopes must partition the global registry")
    // release half the scopes; the other half's frames stay registered
    done.take(2).foreach(_._2.release(blocking = true))
    assert(OpCache.registered === done.drop(2).map(_._2.registered).sum)
    done.drop(2).foreach { case (df, s) =>
      assert(df.collect().nonEmpty); s.release(blocking = true)
    }
    assert(OpCache.registered === 0)
  }

  private def jobsIn(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  // an aggregate over a shuffle: the shape of every loop round
  private def roundLike(n: Int) =
    (1 to n).toDF("x").groupBy(($"x" % 7).as("k")).count()

  test("checkpoint handle: a local cut launches no job, cutEager does; settle frees older cuts, keep registers the rest") {
    spark.catalog.clearCache()
    OpCache.release(blocking = true)
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    val ck = OpCache.checkpoints(spark)
    var first: org.apache.spark.sql.DataFrame = null
    assert(jobsIn("ck-lazy") { first = ck.cut(spark.range(0, 200).select(($"id" % 7).as("k"))) } === 0,
      "a lazy cut must leave materialization to the round's own action")
    var second: org.apache.spark.sql.DataFrame = null
    assert(jobsIn("ck-eager") { second = ck.cutEager(first.distinct()) } >= 1)
    assert(sc.getPersistentRDDs.size === 2)
    ck.settle()
    assert(sc.getPersistentRDDs.size === 1, "settle must free every cut but the newest")
    ck.keep()
    assert(OpCache.registeredRdds === 1)
    assert(second.collect().length === 7)
    OpCache.release(blocking = true)
    assert(OpCache.registeredRdds === 0)
    assert(sc.getPersistentRDDs.isEmpty)

    // over a shuffle, adaptive execution runs the map stage while the
    // cut is planned; the lazy cut still saves the materializing job
    val ck2 = OpCache.checkpoints(spark)
    val lazyJobs = jobsIn("ck-lazy-agg") { ck2.cut(roundLike(200)) }
    val eagerJobs = jobsIn("ck-eager-agg") { ck2.cutEager(roundLike(201)) }
    assert(lazyJobs < eagerJobs, s"lazy $lazyJobs vs eager $eagerJobs jobs")
    ck2.free()
    assert(sc.getPersistentRDDs.isEmpty)
  }

  test("checkpoint handle: with a session checkpoint dir every cut is reliable and eager; free deletes its files") {
    spark.catalog.clearCache()
    OpCache.release(blocking = true)
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ck_handle").toString
    def rddDirs(): Int = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.filter(_.getFileName.toString.startsWith("rdd-")).count().toInt
      finally s.close()
    }
    try {
      sc.setCheckpointDir(dir)
      val ck = OpCache.checkpoints(spark)
      var out: org.apache.spark.sql.DataFrame = null
      assert(jobsIn("ck-reliable") { out = ck.cut(roundLike(300)) } >= 1,
        "a reliable cut must be eager")
      assert(rddDirs() === 1, "the cut must be written to the checkpoint dir")
      assert(out.collect().length === 7)
      ck.free()
      assert(rddDirs() === 0, "free must delete the checkpoint files")
      assert(OpCache.registeredRdds === 0)
    } finally sc.setCheckpointDir(null)
    assert(sc.getCheckpointDir.isEmpty)
  }
}
