package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-20 hardening of the slice-commit protocol: the manifest
  * commit is ONE part file (one rename/PUT — a multi-file manifest
  * job could crash having published a subset), and the single-writer
  * contract is enforced LOUDLY (two appenders racing the
  * read-max-plus-one generation clock can never SILENTLY share a
  * generation — the post-commit re-read raises with both nonces).
  */
class CommitProtocolSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector("spark", "join", "stream", "data", "row",
    "table", "merge", "scan", "batch", "key")

  private def corpus(lo: Long, hi: Long, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (lo to hi).map { i =>
      (i, Seq.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString + "/idx"

  /** Data (non-hidden, non-_SUCCESS) files in a directory. */
  private def dataFiles(dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSeq
  }

  test("every manifest commit is exactly ONE new part file, on both tiers") {
    val docs = corpus(1, 40, 7)
    val path = tmp("cp_onefile")
    Retrieval.writeInvertedIndex(docs.filter($"doc_id" <= 20L),
      "doc_id", "text", path, nBuckets = 4)
    assert(dataFiles(s"$path/tombstones").isEmpty) // base: no manifest
    Retrieval.appendToInvertedIndex(
      docs.filter($"doc_id" > 20L && $"doc_id" <= 30L),
      "doc_id", "text", path)
    // ensureManifest's empty schema file + the append's ONE commit file
    val afterAppend = dataFiles(s"$path/tombstones").size
    assert(afterAppend <= 2, s"append left $afterAppend manifest files")
    Retrieval.appendToInvertedIndex(docs.filter($"doc_id" > 30L),
      "doc_id", "text", path)
    assert(dataFiles(s"$path/tombstones").size === afterAppend + 1)
    Retrieval.deleteFromInvertedIndex(
      docs.filter($"doc_id" % 7 === 0L).select($"doc_id"), "doc_id", path)
    assert(dataFiles(s"$path/tombstones").size === afterAppend + 2)

    // ANN tier: same one-file-per-commit shape
    val rnd = new scala.util.Random(11)
    val emb = (0L until 48L).map(i =>
        (i, Seq.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooksSeeded(
      emb.filter($"vec_id" < 16), "vec_id", "embedding", dim = 8, m = 2)
    val apath = tmp("cp_onefile_ann")
    Similarity.writePqIndex(emb.filter($"vec_id" < 32), "vec_id",
      "embedding", books, apath)
    Similarity.appendToPqIndex(emb.filter($"vec_id" >= 32), apath,
      "vec_id", "embedding")
    val annAfterAppend = dataFiles(s"$apath/tombstones").size
    assert(annAfterAppend <= 2,
      s"append left $annAfterAppend manifest files")
    Similarity.deleteFromPqIndex(
      emb.filter($"vec_id" % 9 === 0L).select($"vec_id"), apath, "vec_id")
    assert(dataFiles(s"$apath/tombstones").size === annAfterAppend + 1)
  }

  test("planted generation collision raises loudly with both nonces, both tiers") {
    val docs = corpus(1, 30, 13)
    val path = tmp("cp_collide")
    Retrieval.writeInvertedIndex(docs.filter($"doc_id" <= 15L),
      "doc_id", "text", path, nBuckets = 4)
    Retrieval.appendToInvertedIndex(docs.filter($"doc_id" > 15L),
      "doc_id", "text", path)
    val mine = spark.read.parquet(s"$path/tombstones")
      .select("slice").head().getString(0)
    // no foreign slice at gen 1 → the check passes
    IndexManifest.verifySoleWriter(spark, path, 1L, mine)
    // plant the row a concurrent writer would have committed at the
    // same generation under its own nonce
    Seq((999L, 1L, "foreign-nonce", null.asInstanceOf[String]))
      .toDF("id", "gen", "slice", "batch_key")
      .write.mode("append").parquet(s"$path/tombstones")
    val e = intercept[IllegalStateException] {
      IndexManifest.verifySoleWriter(spark, path, 1L, mine)
    }
    assert(e.getMessage.contains("foreign-nonce"), e.getMessage)
    assert(e.getMessage.contains(mine), e.getMessage)
    assert(e.getMessage.contains("asOfGen = 0"), e.getMessage)

    // ANN twin over the shared manifest layout (the check only reads
    // the manifest, so planting it alone suffices)
    val apath = tmp("cp_collide_ann")
    Seq((7L, 1L, "mine-a", null.asInstanceOf[String]),
        (8L, 1L, "theirs-b", null.asInstanceOf[String]))
      .toDF("neighbor_id", "gen", "slice", "batch_key")
      .write.mode("append").parquet(s"$apath/tombstones")
    val ea = intercept[IllegalStateException] {
      IndexManifest.verifySoleWriter(spark, apath, 1L, "mine-a")
    }
    assert(ea.getMessage.contains("theirs-b"), ea.getMessage)
    IndexManifest.verifySoleWriter(spark, apath, 2L, "mine-a") // clean gen
  }

  test("two concurrent appenders: serialized generations or a loud failure — never a silent shared gen") {
    val docs = corpus(1, 60, 29)
    val path = tmp("cp_race")
    Retrieval.writeInvertedIndex(docs.filter($"doc_id" <= 20L),
      "doc_id", "text", path, nBuckets = 4)
    // first append creates the manifest so both racers start from the
    // same read-max-plus-one state
    Retrieval.appendToInvertedIndex(
      docs.filter($"doc_id" > 20L && $"doc_id" <= 25L),
      "doc_id", "text", path)
    val d1 = docs.filter($"doc_id" > 25L && $"doc_id" <= 40L)
    val d2 = docs.filter($"doc_id" > 40L)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(d1, d2).map { d =>
      new Thread(() => {
        gate.await()
        try Retrieval.appendToInvertedIndex(d, "doc_id", "text", path)
        catch { case t: Throwable => errs.add(t); () }
      })
    }
    threads.foreach(_.start()); gate.countDown()
    threads.foreach(_.join(120000))
    // THE contract: a generation shared by two slices must have been
    // reported loudly by at least one writer — silence means both
    // writers believe their supersede order is in effect
    val shared = spark.read.parquet(s"$path/tombstones")
      .filter($"gen" > 0L)
      .groupBy("gen").agg(countDistinct($"slice").as("w"))
      .filter($"w" > 1L).count()
    if (shared > 0L)
      assert(!errs.isEmpty,
        s"$shared generation(s) shared by two writers with NO loud failure")
    else if (errs.isEmpty) {
      // serialized cleanly: serving equals the full union corpus
      val served = Retrieval.bm25TopKFromIndex(spark, path, "doc_id",
        Seq("spark", "data"), k = 10).collect().map(_.toSeq).toSeq
      val full = Retrieval.bm25TopK(docs, "doc_id", "text",
        Seq("spark", "data"), k = 10).collect().map(_.toSeq).toSeq
      assert(served === full)
    } // a loud failure with no shared gen is a valid outcome too
  }

  /** One stored-index tier as the lifecycle contract drives it: its
    * delta (ids in `idCol`) and its lifecycle calls. */
  private case class Tier(name: String, delta: DataFrame,
      idCol: String, build: String => Unit,
      append: (DataFrame, String, String) => Unit,
      delete: (DataFrame, String) => Unit,
      compact: (String, String) => Unit, serve: String => Seq[String])

  test("lifecycle contract on all four tiers: skipped appends, deletes on a missing path, in-place compaction") {
    val docs = corpus(1, 30, 17)
    val rnd = new scala.util.Random(5)
    val emb = (0L until 24L).map(i =>
        (i, Seq.fill(8)(rnd.nextInt(16).toFloat / 4f))).toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooksSeeded(
      emb.filter($"vec_id" < 8), "vec_id", "embedding", dim = 8, m = 2)
    val q = emb.filter($"vec_id" < 4)
    def rows(df: DataFrame) =
      df.collect().map(_.toSeq.mkString(",")).toSeq.sorted
    val tiers = Seq(
      Tier("flat PQ", emb.filter($"vec_id" >= 16), "vec_id",
        p => Similarity.writePqIndex(emb.filter($"vec_id" < 16), "vec_id",
          "embedding", books, p),
        (d, p, k) => Similarity.appendToPqIndex(d, p, "vec_id", "embedding", k),
        (ids, p) => Similarity.deleteFromPqIndex(ids, p, "vec_id"),
        Similarity.compactPqIndex(spark, _, _),
        p => rows(Similarity.pqTopKFromIndex(q, emb, "vec_id", "embedding",
          k = 3, p))),
      Tier("IVF-PQ", emb.filter($"vec_id" >= 16), "vec_id",
        p => Similarity.writeIvfPqIndex(emb.filter($"vec_id" < 16),
          emb.filter($"vec_id" < 3), "vec_id", "embedding", m = 2, dim = 8, p),
        (d, p, k) => Similarity.appendToIvfPqIndex(d, p, "vec_id", "embedding", k),
        (ids, p) => Similarity.deleteFromPqIndex(ids, p, "vec_id"),
        Similarity.compactIvfPqIndex(spark, _, _),
        p => rows(Similarity.pqIvfTopKFromIndex(q, p, "vec_id", "embedding",
          k = 3, nProbe = 3))),
      Tier("inverted", docs.filter($"doc_id" > 20L), "doc_id",
        p => Retrieval.writeInvertedIndex(docs.filter($"doc_id" <= 20L),
          "doc_id", "text", p, nBuckets = 4),
        (d, p, k) => Retrieval.appendToInvertedIndex(d, "doc_id", "text", p, k),
        (ids, p) => Retrieval.deleteFromInvertedIndex(ids, "doc_id", p),
        Retrieval.compactInvertedIndex(spark, _, _),
        p => rows(Retrieval.vocabularyFromIndex(spark, p, 20))),
      Tier("positional", docs.filter($"doc_id" > 20L), "doc_id",
        p => Retrieval.writePositionalIndex(docs.filter($"doc_id" <= 20L),
          "doc_id", "text", p, nBuckets = 4),
        (d, p, k) => Retrieval.appendToPositionalIndex(d, "doc_id", "text", p, k),
        (ids, p) => Retrieval.deleteFromPositionalIndex(ids, "doc_id", p),
        Retrieval.compactPositionalIndex(spark, _, _),
        p => rows(Retrieval.phraseOccurrencesFromIndex(spark, p, "doc_id",
          Seq("spark", "join")))))
    for (t <- tiers) {
      import t.{delta, idCol}
      val path = tmp("cp_lifecycle")
      t.build(path)
      t.append(delta, path, "b1")
      // the source holds tombstones, so an in-place rewrite would lose them
      t.delete(delta.filter(col(idCol) % 3 === 0L).select(col(idCol)), path)
      val gen = IndexManifest.maxGen(spark, path)
      assert(gen === 2L, t.name)
      t.append(delta.limit(0), path, "b2")
      assert(IndexManifest.maxGen(spark, path) === gen, s"${t.name}: empty delta")
      t.append(delta, path, "b1")
      assert(IndexManifest.maxGen(spark, path) === gen, s"${t.name}: re-delivery")

      val missing = tmp("cp_missing")
      val e = intercept[IllegalArgumentException] {
        t.delete(delta.select(col(idCol)), missing)
      }
      assert(e.getMessage.contains(missing), s"${t.name}: ${e.getMessage}")
      assert(!IndexManifest.exists(spark, s"$missing/tombstones"), t.name)

      val before = t.serve(path)
      assert(before.nonEmpty, t.name)
      for (dst <- Seq(path, path + "/")) {
        val c = intercept[IllegalArgumentException](t.compact(path, dst))
        assert(c.getMessage.contains(path), s"${t.name}: ${c.getMessage}")
        assert(t.serve(path) === before, s"${t.name}: compact onto $dst")
      }
      graft.core.OpCache.release()
    }
  }
}
