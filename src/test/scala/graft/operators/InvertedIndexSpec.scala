package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Stored BM25 inverted index: serving ≡ the from-scratch scan
  * bit-for-bit, incremental append ≡ full rebuild, empty-delta
  * no-op.
  */
class InvertedIndexSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector("spark", "join", "stream", "data", "row",
    "table", "merge", "scan", "batch", "key")

  private def corpus(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    ((1L to n.toLong).map { i =>
      (i, Seq.fill(2 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    } ++ Seq((900L, ""), (901L, "zzz only unknown tokens here")))
      .toDF("doc_id", "text")
  }

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString + "/idx"

  test("serving from the index is bit-identical to the full BM25 scan") {
    val docs = corpus(80, 19)
    val path = tmp("invidx")
    Retrieval.writeInvertedIndex(docs, "doc_id", "text", path, nBuckets = 8)
    val terms = Seq("spark", "join", "zzz_absent", "stream")
    val full = Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 25)
      .collect().map(_.toSeq).toSeq
    val served = Retrieval.bm25TopKFromIndex(spark, path, "doc_id",
      terms, k = 25).collect().map(_.toSeq).toSeq
    assert(served === full)
    assert(full.nonEmpty)
  }

  test("append ≡ rebuild: base+delta serving equals the full-corpus scan") {
    val docs = corpus(60, 23)
    val base = docs.filter($"doc_id" % 3 =!= 0L)
    val delta = docs.filter($"doc_id" % 3 === 0L)
    val path = tmp("invappend")
    Retrieval.writeInvertedIndex(base, "doc_id", "text", path, nBuckets = 8)
    Retrieval.appendToInvertedIndex(delta, "doc_id", "text", path)
    val terms = Seq("data", "table", "merge")
    val full = Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 15)
      .collect().map(_.toSeq).toSeq
    val served = Retrieval.bm25TopKFromIndex(spark, path, "doc_id",
      terms, k = 15).collect().map(_.toSeq).toSeq
    assert(served === full)
    // N/avgdl really are the merged values: the stats sidecar holds
    // one row per slice and serving sums them
    assert(spark.read.parquet(s"$path/stats").count() === 2L)
  }

  test("multi-query serving from the index equals the full-scan batch retriever") {
    val docs = corpus(70, 31)
    val path = tmp("invbatch")
    Retrieval.writeInvertedIndex(docs, "doc_id", "text", path, nBuckets = 8)
    val queries = Seq(
      0L -> Seq("spark", "join", "stream"),
      1L -> Seq("data", "row"),
      2L -> Seq("merge", "zzz_absent", "scan"))
    val full = Retrieval.bm25TopKBatch(docs, "doc_id", "text", queries, k = 12)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val served = Retrieval.bm25TopKBatchFromIndex(spark, path, "doc_id",
        queries, k = 12)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(served === full)
    assert(full.nonEmpty)
  }

  test("positional index: phrase counts equal direct m-gram counts, overlaps included") {
    val docs = Seq(
      (1L, "x alpha beta gamma y"),
      (2L, "alpha beta gamma alpha beta gamma"),
      (3L, "alpha beta delta"),
      (4L, "a a a a"),
      (5L, "beta gamma alpha")).toDF("doc_id", "text")
    val path = tmp("posidx")
    Retrieval.writePositionalIndex(docs, "doc_id", "text", path, nBuckets = 4)
    val r = Retrieval.phraseOccurrencesFromIndex(spark, path, "doc_id",
        Seq("alpha", "beta", "gamma")).orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(r === Seq((1L, 1L), (2L, 2L)))
    // repeated-term phrase: "a a" over "a a a a" -> 3 OVERLAPPING hits
    val aa = Retrieval.phraseOccurrencesFromIndex(spark, path, "doc_id",
        Seq("a", "a")).collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(aa === Seq((4L, 3L)))
  }

  test("compaction is invisible to serving; stats merge to one row") {
    val docs = corpus(50, 37)
    val src = tmp("invcsrc")
    val dst = tmp("invcdst")
    Retrieval.writeInvertedIndex(docs.filter($"doc_id" % 2 === 0L),
      "doc_id", "text", src, nBuckets = 4)
    Retrieval.appendToInvertedIndex(docs.filter($"doc_id" % 2 =!= 0L),
      "doc_id", "text", src)
    Retrieval.compactInvertedIndex(spark, src, dst)
    val terms = Seq("spark", "data")
    val a = Retrieval.bm25TopKFromIndex(spark, src, "doc_id", terms, 15)
      .collect().map(_.toSeq).toSeq
    val b = Retrieval.bm25TopKFromIndex(spark, dst, "doc_id", terms, 15)
      .collect().map(_.toSeq).toSeq
    assert(b === a)
    assert(spark.read.parquet(s"$dst/stats").count() === 1L)
    val va = Retrieval.vocabularyFromIndex(spark, src, 10)
      .collect().map(_.toSeq).toSeq
    val vb = Retrieval.vocabularyFromIndex(spark, dst, 10)
      .collect().map(_.toSeq).toSeq
    assert(vb === va)
  }

  test("QL from index: hand-computed Dirichlet scores; absent terms keep background mass") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry kiwi zebra"),
      (3L, "plum plum plum")).toDF("doc_id", "text")
    val path = tmp("invql")
    Retrieval.writeInvertedIndex(docs, "doc_id", "text", path, nBuckets = 4)
    val out = Retrieval.qlTopKFromIndex(spark, path, "doc_id",
        Seq("apple", "banana"), k = 10, mu = 1000.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // C = 10 tokens; cf(apple) = 3, cf(banana) = 1
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def term(tf: Double, cf: Double, dl: Double) =
      math.log((tf + 1000.0 * cf / 10.0) / (dl + 1000.0))
    // doc 2 does NOT contain banana — its banana term is the
    // BACKGROUND probability, not zero (the per-doc-pivot bug class)
    val s1 = r6(term(2.0, 3.0, 3.0) + term(1.0, 1.0, 3.0))
    val s2 = r6(term(1.0, 3.0, 4.0) + term(0.0, 1.0, 4.0))
    assert(out === Seq((1L, 3L, s1), (2L, 4L, s2)))
    assert(s1 > s2)
  }

  test("proximity from positional index: min pair distance, window filter") {
    val docs = Seq(
      (1L, "alpha x y gamma"),        // dist 3 — outside window 2
      (2L, "alpha x gamma z alpha"),  // dists {2, 2} -> 2
      (3L, "gamma alpha"),            // dist 1 (order-free)
      (4L, "alpha only here")).toDF("doc_id", "text")
    val path = tmp("posprox")
    Retrieval.writePositionalIndex(docs, "doc_id", "text", path, nBuckets = 4)
    val r = Retrieval.proximityFromIndex(spark, path, "doc_id",
        "alpha", "gamma", window = 2).orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(r === Seq((2L, 2L), (3L, 1L)))
  }

  test("re-ingest supersede: serving over (base \\ re-ingested) ∪ delta equals the true-corpus scan") {
    val docs = corpus(60, 41) // the TRUE corpus
    // base: 2/3 of the corpus, where %6==1 docs carry a STALE text
    // whose terms/length pollute every serving statistic until
    // superseded
    val base = docs.filter($"doc_id" % 3 =!= 0L).select($"doc_id",
      when($"doc_id" % 6 === 1L,
        concat(lit("zzstale zzstale s"), $"doc_id".cast("string")))
        .otherwise($"text").as("text"))
    val delta = docs.filter($"doc_id" % 3 === 0L || $"doc_id" % 6 === 1L)
    val path = tmp("invreing")
    Retrieval.writeInvertedIndex(base, "doc_id", "text", path, nBuckets = 8)
    Retrieval.appendToInvertedIndex(delta, "doc_id", "text", path)
    // zzstale exists ONLY in superseded texts: its postings must be
    // dead in every bucket, its df contribution gone
    val terms = Seq("spark", "data", "zzstale")
    val full = Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 20)
      .collect().map(_.toSeq).toSeq
    val served = Retrieval.bm25TopKFromIndex(spark, path, "doc_id",
      terms, k = 20).collect().map(_.toSeq).toSeq
    assert(served === full)
    // N / total_len corrections are load-bearing: QL's corpus token
    // count C comes from the corrected stats
    val truePath = tmp("invtruth")
    Retrieval.writeInvertedIndex(docs, "doc_id", "text", truePath, nBuckets = 8)
    val qlTrue = Retrieval.qlTopKFromIndex(spark, truePath, "doc_id",
      Seq("spark", "data"), k = 15).collect().map(_.toSeq).toSeq
    val qlServed = Retrieval.qlTopKFromIndex(spark, path, "doc_id",
      Seq("spark", "data"), k = 15).collect().map(_.toSeq).toSeq
    assert(qlServed === qlTrue)
    // vocabulary: stale terms must not survive into df/cf
    val vTrue = Retrieval.vocabularyFromIndex(spark, truePath, 15)
      .collect().map(_.toSeq).toSeq
    val vServed = Retrieval.vocabularyFromIndex(spark, path, 15)
      .collect().map(_.toSeq).toSeq
    assert(vServed === vTrue)
    assert(!vServed.exists(_.head == "zzstale"))
  }

  test("rebuild resets the generation clock: prior tombstones do not leak into gen-0 serving") {
    val docs = corpus(40, 43)
    val path = tmp("invgen")
    Retrieval.writeInvertedIndex(docs.filter($"doc_id" % 2 === 0L),
      "doc_id", "text", path, nBuckets = 4)
    Retrieval.appendToInvertedIndex(docs.filter($"doc_id" % 2 =!= 0L),
      "doc_id", "text", path) // tombstones now exist at `path`
    Retrieval.writeInvertedIndex(docs, "doc_id", "text", path, nBuckets = 4)
    val terms = Seq("spark", "row")
    val full = Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 12)
      .collect().map(_.toSeq).toSeq
    val served = Retrieval.bm25TopKFromIndex(spark, path, "doc_id",
      terms, k = 12).collect().map(_.toSeq).toSeq
    assert(served === full)
    assert(!new java.io.File(s"$path/tombstones").exists())
    assert(spark.read.parquet(s"$path/stats").count() === 1L)
  }

  test("compaction folds tombstones away: re-ingested index compacts to the rebuild state") {
    val docs = corpus(50, 47)
    val base = docs.filter($"doc_id" % 3 =!= 0L).select($"doc_id",
      when($"doc_id" % 6 === 2L,
        concat(lit("zzdead s"), $"doc_id".cast("string")))
        .otherwise($"text").as("text"))
    val delta = docs.filter($"doc_id" % 3 === 0L || $"doc_id" % 6 === 2L)
    val src = tmp("invfsrc")
    val dst = tmp("invfdst")
    Retrieval.writeInvertedIndex(base, "doc_id", "text", src, nBuckets = 4)
    Retrieval.appendToInvertedIndex(delta, "doc_id", "text", src)
    Retrieval.compactInvertedIndex(spark, src, dst)
    val terms = Seq("data", "scan", "zzdead")
    val full = Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 15)
      .collect().map(_.toSeq).toSeq
    val served = Retrieval.bm25TopKFromIndex(spark, dst, "doc_id",
      terms, k = 15).collect().map(_.toSeq).toSeq
    assert(served === full)
    // the compacted index IS the rebuild state: one stats row, no
    // tombstone sidecar, no superseded postings or doclens rows
    assert(!new java.io.File(s"$dst/tombstones").exists())
    assert(spark.read.parquet(s"$dst/stats").count() === 1L)
    assert(spark.read.parquet(s"$dst/doclens").count() === docs.count())
    assert(spark.read.parquet(s"$dst/postings")
      .filter(col("term") === "zzdead").count() === 0L)
  }

  test("positional append + supersede: phrase and proximity equal the rebuild; compaction invisible") {
    val docs = Seq( // the TRUE corpus
      (1L, "x alpha beta gamma y"),
      (2L, "alpha beta gamma alpha beta gamma"),
      (3L, "alpha beta delta"),
      (4L, "q w e r t"),
      (5L, "beta gamma alpha")).toDF("doc_id", "text")
    // base holds 1-3, doc 2 STALE (phrase absent; different terms)
    val base = Seq(
      (1L, "x alpha beta gamma y"),
      (2L, "nothing here at all"),
      (3L, "alpha beta delta")).toDF("doc_id", "text")
    val delta = Seq( // new docs 4-5 + re-crawled doc 2
      (2L, "alpha beta gamma alpha beta gamma"),
      (4L, "q w e r t"),
      (5L, "beta gamma alpha")).toDF("doc_id", "text")
    val src = tmp("posapp")
    val dst = tmp("poscmp")
    Retrieval.writePositionalIndex(base, "doc_id", "text", src, nBuckets = 4)
    Retrieval.appendToPositionalIndex(delta, "doc_id", "text", src)
    val ph = Retrieval.phraseOccurrencesFromIndex(spark, src, "doc_id",
        Seq("alpha", "beta", "gamma")).orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(ph === Seq((1L, 1L), (2L, 2L)))
    val px = Retrieval.proximityFromIndex(spark, src, "doc_id",
        "alpha", "gamma", window = 2).orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    // doc 1 dist 2, doc 2 dist 1 (gamma@3, alpha@4), doc 5 dist 1
    assert(px === Seq((1L, 2L), (2L, 1L), (5L, 1L)))
    // stale "nothing" postings are dead
    assert(Retrieval.phraseOccurrencesFromIndex(spark, src, "doc_id",
      Seq("nothing", "here")).count() === 0L)
    Retrieval.compactPositionalIndex(spark, src, dst)
    assert(!new java.io.File(s"$dst/tombstones").exists())
    val phC = Retrieval.phraseOccurrencesFromIndex(spark, dst, "doc_id",
        Seq("alpha", "beta", "gamma")).orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(phC === ph)
    val pxC = Retrieval.proximityFromIndex(spark, dst, "doc_id",
        "alpha", "gamma", window = 2).orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(pxC === px)
    assert(spark.read.parquet(s"$dst/postings")
      .filter(col("term") === "nothing").count() === 0L)
  }

  test("hot-term merge walk: 100k positions per side stays linear, not the pair product") {
    // two stop-words alternating through a 200k-token doc: the old
    // nested fold is O(tf_A · tf_B) = 10^10 ops/row; the merge walk
    // is O((tf_A + tf_B) log) and must finish comfortably
    val text = Seq.fill(100000)("aa bb").mkString(" ")
    val docs = Seq((1L, text), (2L, "aa x bb")).toDF("doc_id", "text")
    val path = tmp("poshot")
    Retrieval.writePositionalIndex(docs, "doc_id", "text", path, nBuckets = 2)
    val t0 = System.nanoTime()
    val px = Retrieval.proximityFromIndex(spark, path, "doc_id",
        "aa", "bb", window = 5).orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    val secs = (System.nanoTime() - t0) / 1e9
    assert(px === Seq((1L, 1L), (2L, 2L)))
    assert(secs < 60.0, s"hot-term proximity took ${secs}s — merge walk regressed?")
    // phrase alignment on the same hot terms: intersection fold,
    // overlapping occurrences all counted
    val ph = Retrieval.phraseOccurrencesFromIndex(spark, path, "doc_id",
        Seq("aa", "bb")).orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(ph === Seq((1L, 100000L)))
  }

  test("commit protocol: mid-append orphans are invisible; the retry commits cleanly") {
    val docs = corpus(40, 53)
    val base = docs.filter($"doc_id" % 2 === 0L)
    val delta = docs.filter($"doc_id" % 2 =!= 0L)
    val path = tmp("invorphan")
    Retrieval.writeInvertedIndex(base, "doc_id", "text", path, nBuckets = 4)
    val before = Retrieval.bm25TopKFromIndex(spark, path, "doc_id",
      Seq("spark", "row"), k = 10).collect().map(_.toSeq).toSeq
    // simulate a FIRST append that died between the data writes and
    // the manifest commit: postings/stats/doclens rows exist under an
    // uncommitted slice nonce, the manifest exists but is EMPTY
    Seq(("zzorphan", 77L, 3L, 5L, 1L, "dead-nonce"))
      .toDF("term", "id", "dl", "tf", "_gen", "_slice")
      .withColumn("bucket", pmod(hash($"term"), lit(4)))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$path/postings")
    Seq((1L, 999L, 4, "dead-nonce"))
      .toDF("n_docs", "total_len", "n_buckets", "_slice")
      .write.mode("append").parquet(s"$path/stats")
    Seq((77L, 3L, 1L, "dead-nonce"))
      .toDF("id", "dl", "_gen", "_slice")
      .withColumn("bucket", pmod(hash($"id"), lit(4)))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$path/doclens")
    Seq.empty[(Long, Long, String, String)]
      .toDF("id", "gen", "slice", "batch_key")
      .write.mode("append").parquet(s"$path/tombstones")
    // serving sees NONE of it: scores, stats, df all unchanged
    val withOrphans = Retrieval.bm25TopKFromIndex(spark, path, "doc_id",
      Seq("spark", "row"), k = 10).collect().map(_.toSeq).toSeq
    assert(withOrphans === before)
    assert(Retrieval.bm25TopKFromIndex(spark, path, "doc_id",
      Seq("zzorphan"), k = 5).count() === 0L)
    assert(!Retrieval.vocabularyFromIndex(spark, path, 100)
      .collect().exists(_.getString(0) == "zzorphan"))
    // the retry commits under a fresh nonce: serving = the full corpus
    Retrieval.appendToInvertedIndex(delta, "doc_id", "text", path)
    val full = Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "row"), k = 10).collect().map(_.toSeq).toSeq
    val served = Retrieval.bm25TopKFromIndex(spark, path, "doc_id",
      Seq("spark", "row"), k = 10).collect().map(_.toSeq).toSeq
    assert(served === full)
    // and compaction drops the orphan rows entirely
    val dst = tmp("invorphanc")
    Retrieval.compactInvertedIndex(spark, path, dst)
    assert(spark.read.parquet(s"$dst/postings")
      .filter(col("term") === "zzorphan").count() === 0L)
    assert(spark.read.parquet(s"$dst/doclens").count() === docs.count())
  }

  test("commit protocol: a committed batchKey is skipped on re-delivery") {
    val docs = corpus(30, 59)
    val path = tmp("invbatchkey")
    Retrieval.writeInvertedIndex(docs.filter($"doc_id" % 2 === 0L),
      "doc_id", "text", path, nBuckets = 4)
    val d1 = docs.filter($"doc_id" % 2 =!= 0L)
    Retrieval.appendToInvertedIndex(d1, "doc_id", "text", path,
      batchKey = "stream-0")
    val after = Retrieval.bm25TopKFromIndex(spark, path, "doc_id",
      Seq("spark", "data"), k = 10).collect().map(_.toSeq).toSeq
    // re-delivery of the SAME batchId (even with different content —
    // the streaming contract says that cannot happen, the guard makes
    // it harmless anyway) is a no-op
    Retrieval.appendToInvertedIndex(docs.limit(5), "doc_id", "text", path,
      batchKey = "stream-0")
    val again = Retrieval.bm25TopKFromIndex(spark, path, "doc_id",
      Seq("spark", "data"), k = 10).collect().map(_.toSeq).toSeq
    assert(again === after)
    assert(spark.read.parquet(s"$path/stats").count() === 2L)
    // a NEW batchKey applies normally
    Retrieval.appendToInvertedIndex(
      corpus(6, 61).select($"doc_id" + 5000L as "doc_id", $"text"),
      "doc_id", "text", path, batchKey = "stream-1")
    assert(spark.read.parquet(s"$path/stats").count() === 3L)
  }

  test("delete: vanishes from every statistic; re-ingest resurrects; compaction drops the rows") {
    val docs = corpus(40, 67)
    val path = tmp("invdel")
    Retrieval.writeInvertedIndex(docs, "doc_id", "text", path, nBuckets = 4)
    Retrieval.deleteFromInvertedIndex(
      docs.filter($"doc_id" % 5 === 0L).select($"doc_id"), "doc_id", path)
    val remaining = docs.filter($"doc_id" % 5 =!= 0L)
    val terms = Seq("spark", "data")
    // BM25 (N, avgdl, df all corrected), QL (C corrected), vocabulary
    // (df/cf shrink) — each equals a from-scratch build over the
    // remaining corpus
    val truth = tmp("invdeltruth")
    Retrieval.writeInvertedIndex(remaining, "doc_id", "text", truth,
      nBuckets = 4)
    assert(Retrieval.bm25TopKFromIndex(spark, path, "doc_id", terms, 15)
        .collect().map(_.toSeq).toSeq ===
      Retrieval.bm25TopK(remaining, "doc_id", "text", terms, 15)
        .collect().map(_.toSeq).toSeq)
    assert(Retrieval.qlTopKFromIndex(spark, path, "doc_id", terms, 15)
        .collect().map(_.toSeq).toSeq ===
      Retrieval.qlTopKFromIndex(spark, truth, "doc_id", terms, 15)
        .collect().map(_.toSeq).toSeq)
    assert(Retrieval.vocabularyFromIndex(spark, path, 10)
        .collect().map(_.toSeq).toSeq ===
      Retrieval.vocabularyFromIndex(spark, truth, 10)
        .collect().map(_.toSeq).toSeq)
    // a LATER re-ingest resurrects the doc
    Retrieval.appendToInvertedIndex(docs.filter($"doc_id" === 10L),
      "doc_id", "text", path)
    val resurrected = remaining.unionByName(docs.filter($"doc_id" === 10L))
    assert(Retrieval.bm25TopKFromIndex(spark, path, "doc_id", terms, 15)
        .collect().map(_.toSeq).toSeq ===
      Retrieval.bm25TopK(resurrected, "doc_id", "text", terms, 15)
        .collect().map(_.toSeq).toSeq)
    // compaction physically drops the deleted docs' rows
    val dst = tmp("invdelc")
    Retrieval.compactInvertedIndex(spark, path, dst)
    assert(spark.read.parquet(s"$dst/postings")
      .filter($"id" % 5 === 0L && $"id" =!= 10L).count() === 0L)
    assert(spark.read.parquet(s"$dst/doclens").count() ===
      resurrected.count())
  }

  test("time travel: every past generation re-serves its exact state; history reads the clock") {
    val docs = corpus(40, 71)
    val path = tmp("invtt")
    val base = docs.filter($"doc_id" % 3 === 0L)
    val d1 = docs.filter($"doc_id" % 3 === 1L)
    val d2 = docs.filter($"doc_id" % 3 === 2L)
    Retrieval.writeInvertedIndex(base, "doc_id", "text", path, nBuckets = 4)
    Retrieval.appendToInvertedIndex(d1, "doc_id", "text", path)
    Retrieval.appendToInvertedIndex(d2, "doc_id", "text", path,
      batchKey = "crawl-7")
    val terms = Seq("spark", "data")
    def scan(c: org.apache.spark.sql.DataFrame) =
      Retrieval.bm25TopK(c, "doc_id", "text", terms, 12)
        .collect().map(_.toSeq).toSeq
    def serve(asOf: Long) =
      Retrieval.bm25TopKFromIndex(spark, path, "doc_id", terms, 12,
        asOfGen = asOf).collect().map(_.toSeq).toSeq
    assert(serve(0L) === scan(base))                 // pristine base
    assert(serve(1L) === scan(base.unionByName(d1))) // after append 1
    assert(serve(2L) === scan(docs))                 // latest
    assert(serve(Long.MaxValue) === scan(docs))      // default clock
    val hist = Retrieval.indexHistory(spark, path).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSeq
    assert(hist === Seq((1L, None, d1.count()),
      (2L, Some("crawl-7"), d2.count())))
  }

  test("empty delta is a no-op: no stats row, scores unchanged") {
    val docs = corpus(30, 29)
    val path = tmp("invempty")
    Retrieval.writeInvertedIndex(docs, "doc_id", "text", path, nBuckets = 4)
    val before = Retrieval.bm25TopKFromIndex(spark, path, "doc_id",
      Seq("spark", "row"), k = 10).collect().map(_.toSeq).toSeq
    Retrieval.appendToInvertedIndex(docs.filter($"doc_id" < 0L),
      "doc_id", "text", path)
    val after = Retrieval.bm25TopKFromIndex(spark, path, "doc_id",
      Seq("spark", "row"), k = 10).collect().map(_.toSeq).toSeq
    assert(after === before)
    assert(spark.read.parquet(s"$path/stats").count() === 1L)
  }

  test("a repeated query term is rejected by every ranker, naming the operator, query and term") {
    val docs = corpus(30, 41)
    val path = tmp("invdup")
    Retrieval.writeInvertedIndex(docs, "doc_id", "text", path, nBuckets = 4)
    val dup = Seq("spark", "row", "spark")
    def rejects(prefix: String)(run: => Any): Unit = {
      val e = intercept[IllegalArgumentException](run)
      assert(e.getMessage.stripPrefix("requirement failed: ").startsWith(prefix) &&
        e.getMessage.contains("repeats term 'spark'"), e.getMessage)
    }
    rejects("bm25TopK: the query ")(
      Retrieval.bm25TopK(docs, "doc_id", "text", dup, 5).collect())
    rejects("bm25TopKFromIndex: the query ")(
      Retrieval.bm25TopKFromIndex(spark, path, "doc_id", dup, 5).collect())
    rejects("qlTopKFromIndex: the query ")(
      Retrieval.qlTopKFromIndex(spark, path, "doc_id", dup, 5).collect())
    val queries = Seq(1L -> Seq("row", "join"), 7L -> dup)
    rejects("bm25TopKBatch: query 7 ")(
      Retrieval.bm25TopKBatch(docs, "doc_id", "text", queries, 5).collect())
    rejects("bm25TopKBatchFromIndex: query 7 ")(
      Retrieval.bm25TopKBatchFromIndex(spark, path, "doc_id", queries, 5)
        .collect())
  }
}
