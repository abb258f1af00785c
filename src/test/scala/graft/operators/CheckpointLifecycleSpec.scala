package graft.operators

import graft.SparkSpec
import graft.core.OpCache

/** Checkpoint-block lifecycle of the iterative operators (the
  * [[OpCache.Checkpoints]] contract) — the round-11 leak: the
  * components operators checkpointed every round and stranded every
  * round's blocks for the session (checkpoint blocks are
  * lineage-truncated, so Spark's storage layer can never evict them
  * itself). Contract now: interior rounds are freed the moment the
  * next round materializes; ONLY the result-backing checkpoint
  * survives the call, registered with [[OpCache]] so the caller's
  * pipeline-boundary release frees it (after which the returned frame
  * is dead — checkpoints cannot recompute); driver-value results
  * (BPE's model, the Unigram model, the spectrum model) keep none.
  */
class CheckpointLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def cleanSlate(): Set[Int] = {
    spark.catalog.clearCache()
    OpCache.release(blocking = true)
    spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  private def strays(base: Set[Int]): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- base

  test("componentsStar frees every interior round; only the fixed-point checkpoint survives until release") {
    val base = cleanSlate()
    val vertices = (0L until 200L).toDF("id")
    // a path graph forces multiple star rounds — several interior cps
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Dedup.componentsStar(vertices, "id", pairs, "a", "b")
    assert(strays(base).size === 1,
      s"only the result-backing checkpoint may remain after the call, got ${strays(base)}")
    assert(OpCache.registeredRdds === 1,
      "the fixed-point checkpoint must be registered for session release")
    assert(out.collect().forall(_.getLong(1) == 0L))
    OpCache.release(blocking = true)
    assert(OpCache.registeredRdds === 0)
    assert(strays(base).isEmpty,
      "release must free the fixed-point checkpoint blocks")
  }

  test("components frees per-round label checkpoints; result blocks release via OpCache") {
    val base = cleanSlate()
    val vertices = (0L until 12L).toDF("id")
    val pairs = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Dedup.components(vertices, "id", pairs, "a", "b", maxIter = 15)
    assert(strays(base).size === 1,
      s"only the final label checkpoint may remain, got ${strays(base)}")
    assert(out.collect().forall(_.getLong(1) == 0L))
    OpCache.release(blocking = true)
    assert(strays(base).isEmpty)
  }

  test("non-convergence throw strands zero checkpoint blocks") {
    val base = cleanSlate()
    val vertices = (0L until 30L).toDF("id")
    val pairs = (0L until 29L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      Dedup.components(vertices, "id", pairs, "a", "b", maxIter = 2)
    }
    assert(strays(base).isEmpty, "the throw path must free the last round's blocks")
    assert(OpCache.registeredRdds === 0)
  }

  test("a session checkpoint dir makes every loop checkpoint reliably: results match the local path; interior files freed per round; release deletes the rest") {
    val base = cleanSlate()
    val sc = spark.sparkContext
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("a", "b")
    val chainV = (0L until 1000L).toDF("id")
    val shortV = (0L until 12L).toDF("id")
    val short = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    val web = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (4L, 3L), (5L, 4L), (2L, 5L))
      .toDF("src", "dst")
    val texts = Seq("low lower lowest", "newer newest wider", "low low newer")
      .toDF("text")
    // each loop with the number of checkpoints its result reads
    val loops: Seq[(String, () => org.apache.spark.sql.DataFrame, Int)] = Seq(
      ("components", () => Dedup.components(shortV, "id", short, "a", "b", maxIter = 15), 1),
      ("componentsStar", () => Dedup.componentsStar(chainV, "id", chain, "a", "b"), 1),
      ("pageRank", () => PageRank.pageRank(web, "src", "dst", iterations = 7,
        checkpointEvery = 2), 1),
      ("bpe", () => BpeTrainer.train(texts, "text", numMerges = 6, checkpointEvery = 1), 0))
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_test").toString
    def rddDirs(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("rdd-")).toList
      finally s.close()
    }
    // PageRank and BPE require ANSI arithmetic; the session's value is
    // restored afterwards
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val viaLocal = loops.map { case (_, run, _) =>
        val rows = run().collect().map(_.toString).toSet
        OpCache.release(blocking = true)
        rows
      }
      assert(sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(dir)
      for (((name, run, survivors), local) <- loops.zip(viaLocal)) {
        val out = run()
        assert(rddDirs().size === survivors,
          s"$name: interior rounds' checkpoint files must be deleted eagerly, got ${rddDirs()}")
        assert(out.collect().map(_.toString).toSet === local, name)
        OpCache.release(blocking = true)
        assert(rddDirs().isEmpty, s"$name: release must delete the result's checkpoint files")
      }
    } finally {
      sc.setCheckpointDir(null)
      spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
    }
    assert(sc.getCheckpointDir.isEmpty, "the checkpoint dir must not leak into later suites")
    assert(strays(base).isEmpty)
  }

  test("UnigramTrainer.train: release leaves zero stray blocks") {
    val base = cleanSlate()
    val docs = Seq("lower lowest low", "newest newer new", "wide wider widest")
      .toDF("text")
    val words = UnigramTrainer.distinctWords(docs, "text")
    val out = UnigramTrainer.train(words, maxPieceLen = 3, topKMulti = 8, emRounds = 2)
    assert(out.collect().nonEmpty)
    assert(OpCache.registeredRdds > 0, "the lazy result reads its cuts until release")
    OpCache.release(blocking = true)
    assert(strays(base).isEmpty)
  }

  test("UnigramTrainer.trainModel frees its cuts before returning the driver-side model") {
    val base = cleanSlate()
    val docs = Seq("lower lowest low", "newest newer new", "wide wider widest")
      .toDF("text")
    val words = UnigramTrainer.distinctWords(docs, "text")
    val registered = OpCache.registeredRdds
    val model = UnigramTrainer.trainModel(words, maxPieceLen = 3, topKMulti = 8, emRounds = 2)
    assert(model.size > 0)
    assert(strays(base).isEmpty, s"a driver-value result pins no blocks, got ${strays(base)}")
    assert(OpCache.registeredRdds === registered)
  }

  test("Spectrum.topComponentModel(distributeCov = true) returns with zero stray blocks") {
    val base = cleanSlate()
    val emb = (0 until 40).map(i => Seq.tabulate(4)(d => ((i * 7 + d * 3) % 11).toFloat / 4f))
      .toDF("embedding")
    val m = Spectrum.topComponentModel(emb, "embedding", dim = 4, iters = 5,
      distributeCov = true)
    assert(m.v.length === 4)
    assert(strays(base).isEmpty, s"the covariance cut must be freed, got ${strays(base)}")
    assert(OpCache.registeredRdds === 0)
  }
}
