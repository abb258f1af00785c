package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Manifest-health report + growth guard + compaction lineage
  * (VERDICT r19 items 2 and 3).
  */
class IndexHealthSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector("spark", "join", "stream", "data", "row",
    "table")

  private def corpus(lo: Long, hi: Long, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (lo to hi).map { i =>
      (i, Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString + "/idx"

  test("report tracks append/delete states and folds to zero on compaction") {
    val docs = corpus(1, 40, 3)
    val path = tmp("health")
    Retrieval.writeInvertedIndex(docs.filter($"doc_id" <= 20L),
      "doc_id", "text", path, nBuckets = 4)
    // never appended → all zeros
    val r0 = IndexHealth.report(spark, path).head()
    assert(r0.getAs[Long]("n_generations") === 0L)
    assert(r0.getAs[Long]("n_tombstone_rows") === 0L)
    Retrieval.appendToInvertedIndex(
      docs.filter($"doc_id" > 20L && $"doc_id" <= 32L),
      "doc_id", "text", path)
    Retrieval.deleteFromInvertedIndex(
      docs.filter($"doc_id" % 4 === 0L).select($"doc_id"), "doc_id", path)
    val r1 = IndexHealth.report(spark, path).head()
    assert(r1.getAs[Long]("n_generations") === 2L)
    assert(r1.getAs[Long]("max_gen") === 2L)
    assert(r1.getAs[Long]("n_committed_slices") === 2L)
    assert(r1.getAs[Long]("n_tombstone_rows") === 12L + 10L) // append + delete
    // distinct = appended {21..32} ∪ deleted {4,8,…,40}
    assert(r1.getAs[Long]("n_tombstoned_ids") ===
      ((21L to 32L) ++ (1L to 40L).filter(_ % 4 == 0)).distinct.size.toLong)
    assert(r1.getAs[Long]("est_broadcast_bytes") ===
      24L * r1.getAs[Long]("n_tombstoned_ids"))
    // compaction folds every counter away
    val dst = tmp("health_dst")
    Retrieval.compactInvertedIndex(spark, path, dst)
    val r2 = IndexHealth.report(spark, dst).head()
    assert(r2.getAs[Long]("n_generations") === 0L)
    assert(r2.getAs[Long]("n_committed_slices") === 0L)
    assert(r2.getAs[Long]("est_broadcast_bytes") === 0L)
  }

  test("growth guard fires loudly on a many-slice manifest, naming the counts") {
    val docs = corpus(1, 50, 7)
    val path = tmp("health_guard")
    Retrieval.writeInvertedIndex(docs.filter($"doc_id" <= 25L),
      "doc_id", "text", path, nBuckets = 4)
    // five small appends = five committed slices
    (0 until 5).foreach { i =>
      Retrieval.appendToInvertedIndex(
        docs.filter($"doc_id" === (26L + i)), "doc_id", "text", path)
    }
    IndexHealth.requireHealthy(spark, path, maxCommittedSlices = 5)
    val e = intercept[IllegalStateException] {
      IndexHealth.requireHealthy(spark, path, maxCommittedSlices = 3)
    }
    assert(e.getMessage.contains("5 committed slices"), e.getMessage)
    assert(e.getMessage.contains("compaction"), e.getMessage)
    val e2 = intercept[IllegalStateException] {
      IndexHealth.requireHealthy(spark, path, maxTombstonedIds = 2)
    }
    assert(e2.getMessage.contains("5 tombstoned ids"), e2.getMessage)
  }

  test("ANN manifest health (neighbor_id layout, auto-detected)") {
    val rnd = new scala.util.Random(13)
    val emb = (0L until 40L).map(i =>
        (i, Seq.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooksSeeded(
      emb.filter($"vec_id" < 16), "vec_id", "embedding", dim = 8, m = 2)
    val path = tmp("health_ann")
    Similarity.writePqIndex(emb.filter($"vec_id" < 30), "vec_id",
      "embedding", books, path)
    Similarity.appendToPqIndex(emb.filter($"vec_id" >= 30), path,
      "vec_id", "embedding")
    Similarity.deleteFromPqIndex(
      emb.filter($"vec_id" % 10 === 0L).select($"vec_id"), path, "vec_id")
    val r = IndexHealth.report(spark, path).head()
    assert(r.getAs[Long]("n_generations") === 2L)
    assert(r.getAs[Long]("n_tombstone_rows") === 10L + 4L)
    assert(r.getAs[Long]("n_tombstoned_ids") === 13L) // 30 is in both sets
  }

  test("compaction lineage: recorded, surfaced in history, and the source stays pinned-servable") {
    val docs = corpus(1, 36, 23)
    val src = tmp("lineage_src")
    Retrieval.writeInvertedIndex(docs.filter($"doc_id" <= 18L),
      "doc_id", "text", src, nBuckets = 4)
    Retrieval.appendToInvertedIndex(docs.filter($"doc_id" > 18L),
      "doc_id", "text", src)                                // gen 1
    Retrieval.deleteFromInvertedIndex(
      docs.filter($"doc_id" % 6 === 0L).select($"doc_id"), "doc_id", src) // gen 2
    // pin the pre-delete state, then compact
    val pinned = Retrieval.bm25TopKFromIndex(spark, src, "doc_id",
      Seq("spark", "row"), k = 12, asOfGen = 1L).collect().map(_.toSeq).toSeq
    val dst = tmp("lineage_dst")
    Retrieval.compactInvertedIndex(spark, src, dst)
    // lineage sidecar: src path, final gen 2, live count
    val lin = IndexLineage.read(spark, dst).head()
    assert(lin.getAs[String]("src_path") === src)
    assert(lin.getAs[Long]("src_gen") === 2L)
    assert(lin.getAs[Long]("n_live") ===
      (1L to 36L).count(_ % 6 != 0).toLong)
    // history of the compacted index = the lineage row alone
    val hist = Retrieval.indexHistory(spark, dst)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(hist.toSeq === Seq((0L, "compact:gen=2",
      (1L to 36L).count(_ % 6 != 0).toLong)))
    // the retention contract: the pinned asOfGen read from the OLD
    // path reproduces the exact pre-delete state after the flip
    val pinnedAfter = Retrieval.bm25TopKFromIndex(spark, src, "doc_id",
      Seq("spark", "row"), k = 12, asOfGen = 1L).collect().map(_.toSeq).toSeq
    assert(pinnedAfter === pinned)
    assert(pinned.nonEmpty)
    // a further append to the compacted index layers history on top
    // of the lineage row
    Retrieval.appendToInvertedIndex(
      corpus(100, 104, 31), "doc_id", "text", dst)
    val hist2 = Retrieval.indexHistory(spark, dst)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(hist2.head === ((0L, "compact:gen=2")))
    assert(hist2.length === 2 && hist2(1)._1 === 1L)
    // a rebuild at the compacted path starts a fresh history: neither
    // the appended generation nor the compaction lineage survives
    Retrieval.writeInvertedIndex(docs, "doc_id", "text", dst, nBuckets = 4)
    assert(Retrieval.indexHistory(spark, dst).isEmpty)
    assert(IndexLineage.read(spark, dst).isEmpty)
  }

  test("ANN compaction lineage twin") {
    val rnd = new scala.util.Random(29)
    val emb = (0L until 48L).map(i =>
        (i, Seq.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooksSeeded(
      emb.filter($"vec_id" < 16), "vec_id", "embedding", dim = 8, m = 2)
    val src = tmp("lineage_ann_src")
    Similarity.writePqIndex(emb.filter($"vec_id" < 40), "vec_id",
      "embedding", books, src)
    Similarity.appendToPqIndex(emb.filter($"vec_id" >= 40), src,
      "vec_id", "embedding")
    val dst = tmp("lineage_ann_dst")
    Similarity.compactPqIndex(spark, src, dst)
    val lin = IndexLineage.read(spark, dst).head()
    assert(lin.getAs[Long]("src_gen") === 1L)
    assert(lin.getAs[Long]("n_live") === 48L)
    val hist = Similarity.indexHistory(spark, dst)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(hist.toSeq === Seq((0L, "compact:gen=1", 48L)))
    // append to the compacted index, then rebuild it: the rebuild
    // clears the manifest and the lineage alike
    Similarity.appendToPqIndex(emb.filter($"vec_id" < 4), dst,
      "vec_id", "embedding")
    assert(new java.io.File(s"$dst/tombstones").exists)
    Similarity.writePqIndex(emb, "vec_id", "embedding", books, dst)
    assert(!new java.io.File(s"$dst/tombstones").exists)
    assert(Similarity.indexHistory(spark, dst).isEmpty)
    assert(IndexLineage.read(spark, dst).isEmpty)
  }
}
