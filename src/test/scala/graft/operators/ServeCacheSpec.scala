package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Per-index-state serve caching (VERDICT r19 item 6): the manifest
  * readback (committed slices, tombstone max-gens) and the corrected
  * stats are functions of the index STATE, so repeated serves of an
  * unchanged index must pay those driver jobs once — and any
  * append/delete must invalidate (the filesystem-fingerprint key).
  */
class ServeCacheSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector("spark", "join", "stream", "data", "row",
    "table", "merge", "scan")

  private def corpus(lo: Long, hi: Long, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (lo to hi).map { i =>
      (i, Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString + "/idx"

  private def jobs(group: String): Int =
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length

  test("second serve of an unchanged superseded index runs fewer jobs, same rows") {
    IndexManifest.clearServeCaches()
    val docs = corpus(1, 60, 3)
    val path = tmp("servecache")
    Retrieval.writeInvertedIndex(docs.filter($"doc_id" % 3 =!= 0L),
      "doc_id", "text", path, nBuckets = 4)
    Retrieval.appendToInvertedIndex(docs.filter($"doc_id" % 3 === 0L),
      "doc_id", "text", path)
    val terms = Seq("spark", "row")
    val sc = spark.sparkContext
    sc.setJobGroup("svc1", "first serve")
    val r1 = Retrieval.bm25TopKFromIndex(spark, path, "doc_id", terms, 15)
      .collect().map(_.toSeq).toSeq
    sc.setJobGroup("svc2", "second serve")
    val r2 = Retrieval.bm25TopKFromIndex(spark, path, "doc_id", terms, 15)
      .collect().map(_.toSeq).toSeq
    sc.clearJobGroup()
    assert(r2 === r1)
    assert(r1.nonEmpty)
    assert(jobs("svc2") < jobs("svc1"),
      s"second serve ran ${jobs("svc2")} jobs vs first ${jobs("svc1")} — " +
        "the per-index-state cache did not kick in")
  }

  test("a new append/delete invalidates the cached state") {
    IndexManifest.clearServeCaches()
    val docs = corpus(1, 50, 9)
    val path = tmp("servecache_inv")
    Retrieval.writeInvertedIndex(docs.filter($"doc_id" <= 30L),
      "doc_id", "text", path, nBuckets = 4)
    Retrieval.appendToInvertedIndex(
      docs.filter($"doc_id" > 30L && $"doc_id" <= 40L),
      "doc_id", "text", path)
    val terms = Seq("spark", "data")
    // warm the cache on the 40-doc state
    Retrieval.bm25TopKFromIndex(spark, path, "doc_id", terms, 10).collect()
    // append more docs, then delete some — both change the manifest
    Retrieval.appendToInvertedIndex(docs.filter($"doc_id" > 40L),
      "doc_id", "text", path)
    Retrieval.deleteFromInvertedIndex(
      docs.filter($"doc_id" % 5 === 0L).select($"doc_id"), "doc_id", path)
    val live = docs.filter($"doc_id" % 5 =!= 0L)
    val served = Retrieval.bm25TopKFromIndex(spark, path, "doc_id",
      terms, 10).collect().map(_.toSeq).toSeq
    val full = Retrieval.bm25TopK(live, "doc_id", "text", terms, 10)
      .collect().map(_.toSeq).toSeq
    assert(served === full)
  }

  test("ANN: second serve of an unchanged appended index runs fewer jobs, same rows") {
    IndexManifest.clearServeCaches()
    val rnd = new scala.util.Random(21)
    val emb = (0L until 64L).map(i =>
        (i, Seq.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooksSeeded(
      emb.filter($"vec_id" < 16), "vec_id", "embedding", dim = 8, m = 2)
    val path = tmp("servecache_ann")
    Similarity.writePqIndex(emb.filter($"vec_id" < 48), "vec_id",
      "embedding", books, path)
    Similarity.appendToPqIndex(emb.filter($"vec_id" >= 48), path,
      "vec_id", "embedding")
    val q = emb.filter($"vec_id" < 4)
    val sc = spark.sparkContext
    sc.setJobGroup("svca1", "first ANN serve")
    val r1 = Similarity.pqTopKFromIndex(q, emb, "vec_id", "embedding",
      k = 3, path).collect().map(_.toSeq).toSeq
    sc.setJobGroup("svca2", "second ANN serve")
    val r2 = Similarity.pqTopKFromIndex(q, emb, "vec_id", "embedding",
      k = 3, path).collect().map(_.toSeq).toSeq
    sc.clearJobGroup()
    assert(r2 === r1)
    assert(r1.nonEmpty)
    assert(jobs("svca2") < jobs("svca1"),
      s"second ANN serve ran ${jobs("svca2")} jobs vs ${jobs("svca1")}")
  }
}
