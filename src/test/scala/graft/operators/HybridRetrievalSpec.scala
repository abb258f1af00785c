package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HybridRetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Seq("spark", "join", "stream", "hash", "row",
    "batch", "scan", "column", "alpha", "beta", "gamma", "delta")

  private def corpus(seed: Int, n: Int) = {
    val rnd = new scala.util.Random(seed)
    Seq.tabulate(n)(i =>
      (i.toLong, Seq.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("bm25TopKBatch ≡ per-query bm25TopK (same ids, ranks, 6dp scores)") {
    val d = corpus(3, 200)
    val queries = Seq(
      1L -> Seq("spark", "join"),
      2L -> Seq("stream", "hash", "row"),
      3L -> Seq("alpha"))
    val batch = Retrieval.bm25TopKBatch(d, "doc_id", "text", queries, k = 10)
      .select("query_id", "rank", "doc_id", "score")
      .as[(Long, Long, Long, Double)].collect().sorted
    val single = queries.flatMap { case (qid, terms) =>
      Retrieval.bm25TopK(d, "doc_id", "text", terms, k = 10)
        .select(col("doc_id"), col("score")).as[(Long, Double)].collect()
        .zipWithIndex.map { case ((id, s), r) => (qid, (r + 1).toLong, id, s) }
    }.sorted
    assert(batch === single)
  }

  test("rrfFuse ≡ naive integer RRF; ids in both lists outrank single-list ids of equal rank") {
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L)).toDF("q", "id", "rank")
    val b = Seq((1L, 20L, 1L), (1L, 40L, 2L), (1L, 30L, 3L)).toDF("q", "id", "rank")
    val out = Retrieval.rrfFuse(Seq(a, b), "q", "id", "rank", k = 10)
      .select("rank", "id", "rrf", "n_lists").as[(Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    def c(r: Long) = 1000000000000L / (60 + r)
    // naive: 20 → c(2)+c(1); 30 → c(3)+c(3); 10 → c(1); 40 → c(2)
    val expected = Seq(
      (1L, 20L, c(2) + c(1), 2L),
      (2L, 30L, c(3) + c(3), 2L),
      (3L, 10L, c(1), 1L),
      (4L, 40L, c(2), 1L))
    assert(out.toSeq === expected)
  }

  test("rrfFuse ties break on ascending id; partitioning-invariant") {
    val a = Seq((1L, 7L, 1L), (1L, 3L, 2L)).toDF("q", "id", "rank")
    val b = Seq((1L, 3L, 1L), (1L, 7L, 2L)).toDF("q", "id", "rank")
    def run(parts: Int) = Retrieval.rrfFuse(
        Seq(a.repartition(parts), b.repartition(parts)), "q", "id", "rank", k = 5)
      .select("rank", "id").as[(Long, Long)].collect().sortBy(_._1).toSeq
    // both ids score c(1)+c(2): tie → id 3 first
    assert(run(1) === Seq((1L, 3L), (2L, 7L)))
    assert(run(1) === run(6))
  }

  test("batch BM25 plan: one corpus pass, grouped bottom-k partials, no window") {
    // a real file source — local relations constant-fold the whole
    // projection away and hide the kernel from the plan
    val p = java.nio.file.Files.createTempDirectory("bm25batch").toString + "/t"
    corpus(5, 300).write.mode("overwrite").parquet(p)
    val d = spark.read.parquet(p)
    val q = Retrieval.bm25TopKBatch(d, "doc_id", "text",
      Seq(1L -> Seq("spark", "join"), 2L -> Seq("hash")), k = 5)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"),
      s"per-query top-k must be the mergeable bottom-k, not a window:\n${plan.take(3000)}")
    assert(plan.contains("ObjectHashAggregate"),
      s"grouped bottom-k must run as an object hash aggregate with partials:\n${plan.take(3000)}")
    assert(plan.contains("graft_term_tfs"),
      s"per-doc tf must come from the single-scan tf-vector kernel:\n${plan.take(3000)}")
  }

  test("batch rankers reject a non-numeric doc id, naming the operator") {
    val d = corpus(7, 40).select(col("doc_id").cast("string").as("doc_id"), col("text"))
    val queries = Seq(1L -> Seq("spark", "join"))
    def rejects(fn: String)(run: => Any): Unit = {
      val e = intercept[IllegalArgumentException](run)
      assert(e.getMessage.stripPrefix("requirement failed: ")
        .startsWith(s"$fn keys its mergeable bottom-k on a BIGINT doc id"), e.getMessage)
    }
    rejects("bm25TopKBatch")(
      Retrieval.bm25TopKBatch(d, "doc_id", "text", queries, k = 3))
    val path = java.nio.file.Files.createTempDirectory("bm25strid").toString + "/idx"
    Retrieval.writeInvertedIndex(d, "doc_id", "text", path, nBuckets = 4)
    rejects("bm25TopKBatchFromIndex")(
      Retrieval.bm25TopKBatchFromIndex(spark, path, "doc_id", queries, k = 3))
  }
}
