package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class NearDupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val docA = "the quick brown fox jumps over the lazy dog again and again"
  private val docB = "quick brown fox jumps over the lazy dog again and again" // first token dropped
  private val docC = "completely different content with no overlap whatsoever here now"

  test("shingles: n-grams of tokens, distinct") {
    val sh = Seq("a b c d").toDF("text")
      .select(NearDup.shingles($"text", 3).as("s")).as[Seq[String]].head()
    assert(sh.toSet === Set("a b c", "b c d"))
  }

  test("jaccard: 1 for identical, 0 for disjoint, high for near-dup") {
    val df = Seq((docA, docA, docC, docB)).toDF("a", "a2", "c", "b")
    val (same, disjoint, near) = df.select(
      NearDup.jaccard(NearDup.shingles($"a", 3), NearDup.shingles($"a2", 3)),
      NearDup.jaccard(NearDup.shingles($"a", 3), NearDup.shingles($"c", 3)),
      NearDup.jaccard(NearDup.shingles($"a", 3), NearDup.shingles($"b", 3)),
    ).as[(Double, Double, Double)].head()
    assert(same === 1.0)
    assert(disjoint === 0.0)
    assert(near > 0.7 && near < 1.0)
  }

  test("minhash LSH finds planted near-dups and skips unrelated docs") {
    val docs = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    val pairs = NearDup.nearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("simhash: identical docs share fingerprint; near-dups are close in hamming") {
    val df = Seq((docA, docA, docB, docC)).toDF("a", "a2", "b", "c")
    val (ha, ha2, hb, hc) = df.select(
      NearDup.simhash64($"a"), NearDup.simhash64($"a2"),
      NearDup.simhash64($"b"), NearDup.simhash64($"c"),
    ).as[(Long, Long, Long, Long)].head()
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ha === ha2)
    assert(hamming(ha, hb) < hamming(ha, hc))
  }

  test("simhashPoly: identical docs share fingerprint; near-dups closer than unrelated; 31-bit") {
    val df = Seq((docA, docA, docB, docC)).toDF("a", "a2", "b", "c")
    val (ha, ha2, hb, hc) = df.select(
      NearDup.simhashPoly($"a"), NearDup.simhashPoly($"a2"),
      NearDup.simhashPoly($"b"), NearDup.simhashPoly($"c"),
    ).as[(Long, Long, Long, Long)].head()
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ha === ha2)
    assert(hamming(ha, hb) < hamming(ha, hc))
    assert(ha >= 0 && ha < (1L << 31))
  }

  test("cosine: identical=1, orthogonal=0; exact and fast paths agree closely") {
    val df = Seq((Array(1f, 0f, 2f), Array(1f, 0f, 2f), Array(0f, 3f, 0f)))
      .toDF("a", "a2", "o")
    val r = df.select(
      Similarity.cosine($"a", $"a2"), Similarity.cosine($"a", $"o"),
      Similarity.cosineExact($"a", $"a2")).as[(Double, Double, Double)].head()
    assert(math.abs(r._1 - 1.0) < 1e-12)
    assert(r._2 === 0.0)
    assert(math.abs(r._3 - 1.0) < 1e-9)
  }

  test("bruteForceTopK: correct neighbors, deterministic rank ties") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0.01f)), (2L, Array(0f, 1f)), (3L, Array(1f, 0f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
        vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", k = 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSeq
    assert(out === Seq((3L, 1), (1L, 2))) // exact match first (id tiebreak), then near
  }

  test("lshTopK buckets agree for identical vectors (recall on exact dups)") {
    val vecs = Seq((0L, Array(1f, 2f, 3f, 4f)), (1L, Array(1f, 2f, 3f, 4f)),
      (2L, Array(-1f, -2f, -3f, -4f))).toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(
        vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", dim = 4, k = 1, planes = 4)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(out === Seq(1L))
  }

  test("exact top-k under mass ties at the cutoff: id order, none dropped") {
    // 30 identical corpus vectors — every candidate has the SAME
    // similarity, far more ties than the rank margin; the epsilon band
    // must keep them all so the exact pass ranks by neighbor_id
    val corpus = (10L to 39L).map(i => (i, Array(1f, 1f, 0f))) :+ (0L, Array(1f, 0f, 0f))
    val out = Similarity.bruteForceTopK(
        corpus.toDF("vec_id", "embedding").filter($"vec_id" === 0),
        corpus.toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 5, roundDp = -1, exact = true)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSeq
    assert(out === Seq((10L, 1), (11L, 2), (12L, 3), (13L, 4), (14L, 5)))
  }

  test("exact top-k with rounding ≡ all-pairs exact reference: a pair that rounds into the cutoff tie survives") {
    // reference: every (query, other-label-or-any) pair scored
    // decimal-exactly, rounded to dp, ranked (sim DESC, neighbor_id)
    def reference(emb: DataFrame, queries: Column, k: Int,
        dp: Int, otherLabel: Boolean): Set[(Long, Long, Double, Int)] = {
      val q = emb.filter(queries)
        .select($"vec_id".as("query_id"), $"embedding".as("_qv"), $"label".as("_ql"))
      val c = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("_cv"), $"label".as("_cl"))
      val cos = Similarity.cosineExact($"_qv", $"_cv")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
        .orderBy($"sim".desc, $"neighbor_id")
      q.crossJoin(c)
        .filter($"query_id" =!= $"neighbor_id" && (!lit(otherLabel) || $"_ql" =!= $"_cl"))
        .withColumn("sim", if (dp < 0) cos else round(cos, dp))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    }
    def topK(emb: DataFrame, queries: Column, k: Int, dp: Int) =
      Similarity.bruteForceTopK(emb.filter(queries), emb, "vec_id", "embedding",
          k = k, roundDp = dp, exact = true)
        .as[(Long, Long, Double, Int)].collect().toSet
    def negatives(emb: DataFrame, queries: Column, k: Int, dp: Int) =
      Similarity.hardNegatives(emb.filter(queries), emb, "vec_id", "embedding", "label",
          k = k, roundDp = dp)
        .as[(Long, Long, Double, Int)].collect().toSet

    // planted: cos(query, 1) = 0.60000013 sits 2.7e-7 BELOW
    // cos(query, 2) = 0.60000040 — far outside the 1e-9 fast band — yet
    // both round to 0.600000 at 6 dp, where neighbor 1 wins on its id
    val planted = Seq((0L, Array(1f, 0f), 0), (1L, Array(1f, 1.333332896232605f), 1),
      (2L, Array(1f, 1.3333319425582886f), 1), (3L, Array(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val q0 = $"vec_id" === 0
    assert(reference(planted, q0, 1, 6, otherLabel = false) === Set((0L, 1L, 0.6, 1)))
    assert(topK(planted, q0, 1, 6) === reference(planted, q0, 1, 6, otherLabel = false))
    assert(negatives(planted, q0, 1, 6) === reference(planted, q0, 1, 6, otherLabel = true))

    // seeded random vectors: coarse rounding makes cutoff ties common
    val rnd = new scala.util.Random(23)
    val emb = (0L until 80L).map(i =>
      (i, Array.fill(4)(rnd.nextFloat() * 2f - 1f), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val qs = $"vec_id" < 16
    for (dp <- Seq(2, 3, 6, -1)) {
      assert(topK(emb, qs, 3, dp) === reference(emb, qs, 3, dp, otherLabel = false),
        s"bruteForceTopK(exact = true, roundDp = $dp)")
      assert(negatives(emb, qs, 3, dp) === reference(emb, qs, 3, dp, otherLabel = true),
        s"hardNegatives(roundDp = $dp)")
    }
    graft.core.OpCache.release(blocking = true)
  }

  test("kmeansCentroids: recovers separated cluster means") {
    val pts = Seq(
      (0L, Array(10f, 0f)), (2L, Array(11f, 0f)), (3L, Array(9f, 0f)),
      (1L, Array(0f, 10f)), (4L, Array(0f, 11f)), (5L, Array(0f, 9f)),
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(pts, "vec_id", "embedding", k = 2, iters = 3)
    // init = ids 0 / 1, one per cluster; Lloyd's converges to the means
    assert(math.abs(cents(0)(0) - 10.0) < 1e-9 && math.abs(cents(0)(1)) < 1e-9)
    assert(math.abs(cents(1)(1) - 10.0) < 1e-9 && math.abs(cents(1)(0)) < 1e-9)
  }

  test("ivfTopKSeeded: probed-cell candidates, exact rank, id tiebreak") {
    val emb = Seq(
      (0L, Array(10f, 0f, 0f)), (1L, Array(0f, 10f, 0f)), // seeds = cells
      (10L, Array(10f, 1f, 0f)), (11L, Array(10f, -1f, 0f)),
      (20L, Array(1f, 10f, 0f)), (21L, Array(-1f, 10f, 0f)),
    ).toDF("vec_id", "embedding")
    val res = Similarity.ivfTopKSeeded(
        emb.filter($"vec_id" === 10), emb, emb.filter($"vec_id" < 2),
        "vec_id", "embedding", k = 2, nProbe = 1)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSet
    // query 10 probes cell 0 only → candidates {0, 11}; cos to the seed
    // (~0.995) beats the opposite cluster-mate (~0.980)
    assert(res === Set((0L, 1), (11L, 2)))
  }

  test("kmeansCentroidsExact: matches plain kmeans on separated clusters, exact means") {
    // values are multiples of 2^-43 (small integers), so the exact path
    // accepts them; cluster means are exactly representable
    val pts = Seq(
      (0L, Array(10f, 0f)), (2L, Array(11f, 0f)), (3L, Array(9f, 0f)),
      (1L, Array(0f, 10f)), (4L, Array(0f, 11f)), (5L, Array(0f, 9f)),
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroidsExact(pts, "vec_id", "embedding", k = 2, iters = 3)
    assert(cents(0).toSeq === Seq(10.0, 0.0))
    assert(cents(1).toSeq === Seq(0.0, 10.0))
  }

  test("kmeans (plain and exact): a vector of another dimension is left out of every mean") {
    val clusters = Seq(
      (0L, Array(10f, 0f)), (2L, Array(11f, 0f)), (3L, Array(9f, 0f)),
      (1L, Array(0f, 10f)), (4L, Array(0f, 11f)), (5L, Array(0f, 9f)))
    def withVec(v: Array[Float]) = (clusters :+ (9L, v)).toDF("vec_id", "embedding")
    val means = Seq(Seq(10.0, 0.0), Seq(0.0, 10.0))
    // its null cell must not unbox to centroid 0: a short vector would
    // overwrite centroid 0's first coordinate, a long one index past it
    for (v <- Seq(Array(100f), Array(100f, 0f, 5f))) {
      val cents = Similarity.kmeansCentroids(withVec(v), "vec_id", "embedding", k = 2, iters = 3)
      assert(cents.map(_.toSeq).toSeq === means, s"kmeansCentroids with a ${v.length}-d vector")
    }
    // 1e-10f is not a multiple of 2^-43: the exact mean's check must
    // skip the dropped vector's coordinates too
    for (v <- Seq(Array(1e-10f), Array(1e-10f, 0f, 5f))) {
      val cents = Similarity.kmeansCentroidsExact(withVec(v), "vec_id", "embedding", k = 2, iters = 3)
      assert(cents.map(_.toSeq).toSeq === means, s"kmeansCentroidsExact with a ${v.length}-d vector")
    }
  }

  test("kmeansCentroidsExact: throws loudly on sub-2^-43 granularity input") {
    // 1e-10f is not a multiple of 2^-43 (its float ulp is ~2^-56), so
    // the integer-scaled exact mean cannot represent it
    val pts = Seq((0L, Array(1e-10f, 0f)), (1L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.kmeansCentroidsExact(pts, "vec_id", "embedding", k = 2, iters = 1)
    }
    assert(e.getMessage.contains("2^-43"))
  }

  test("contamination: flags docs sharing a window with the benchmark, counts distinct windows") {
    // bench doc = 6 tokens "w1..w6"; doc 10 embeds tokens w1..w5 (two
    // 4-token windows in common: w1-w4, w2-w5); doc 11 is clean
    val bench = Seq((100L, "w1 w2 w3 w4 w5 w6")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "intro w1 w2 w3 w4 w5 outro"),
      (11L, "totally unrelated text with other tokens entirely"),
    ).toDF("doc_id", "text")
    val res = Dedup.contamination(corpus, "doc_id", "text", bench, "text", windowTokens = 4)
      .as[(Long, Long)].collect().toMap
    assert(res === Map(10L -> 2L))
  }

  test("contamination: short docs (< window) match on whole-text windows") {
    val bench = Seq((1L, "tiny doc")).toDF("doc_id", "text")
    val corpus = Seq((2L, "tiny doc"), (3L, "other thing")).toDF("doc_id", "text")
    val res = Dedup.contamination(corpus, "doc_id", "text", bench, "text", windowTokens = 20)
      .as[(Long, Long)].collect().toMap
    assert(res === Map(2L -> 1L))
  }

  test("semDedup: drops the higher-id of a similar same-cell pair, keeps cross-cell") {
    val emb = Seq(
      (0L, Array(10f, 0f)),   // seed/cell 0
      (1L, Array(0f, 10f)),   // seed/cell 1
      (10L, Array(10f, 0.5f)),  // cell 0, exactly parallel to 11
      (11L, Array(20f, 1f)),    // cell 0, cos(10,11)=1 → dropped (10 < 11)
      (20L, Array(0.5f, 10f)),  // cell 1, no same-cell near-dup at 0.999
    ).toDF("vec_id", "embedding")
    val res = Similarity.semDedup(emb, emb.filter($"vec_id" < 2),
        "vec_id", "embedding", threshold = 0.999)
      .select("vec_id", "is_kept").as[(Long, Boolean)].collect().toMap
    // seed-to-member cosines are ≈0.9988 < 0.999, so only the exactly
    // parallel pair crosses: 10 survives (lowest id), 11 dropped
    assert(res === Map(0L -> true, 1L -> true, 10L -> true, 11L -> false, 20L -> true))
  }

  test("semDedup: cell assignment ties go to the lowest cell id") {
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0f)), // identical seeds → tie
      (5L, Array(2f, 0f)),
    ).toDF("vec_id", "embedding")
    val res = Similarity.semDedup(emb, emb.filter($"vec_id" < 2),
        "vec_id", "embedding", threshold = 1.1) // threshold > 1: nothing dropped
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(res.values.toSet === Set(0L))
    assert(res(5L) === 0L)
  }

  test("seed-model collect is memoized across fresh constructions of the same seed frame") {
    // q29/q47/q55 each rebuild `emb.filter(vec_id < 8)` from a fresh
    // spark.read of the same path; the canonical-plan memo must serve
    // ONE driver collect for all of them (file relations canonicalize
    // by root path, so separate reads compare equal)
    Similarity.clearSeedModels()
    val p = java.nio.file.Files.createTempDirectory("seedmemo").toString + "/emb"
    (0 until 16).map(i => (i.toLong, Array.tabulate(4)(d => (i * 3 + d).toFloat + 1f)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(p)
    def run(): Unit = {
      val emb = spark.read.parquet(p)
      Similarity.assignCells(emb, emb.filter($"vec_id" < 2), "vec_id", "embedding")
        .collect()
    }
    run()
    assert(Similarity.seedModelsCached === 1)
    run()
    assert(Similarity.seedModelsCached === 1,
      "second construction of the same seed frame re-collected the model")
    // a DIFFERENT seed frame is a different model, not a false hit
    val emb = spark.read.parquet(p)
    Similarity.assignCells(emb, emb.filter($"vec_id" < 4), "vec_id", "embedding")
      .collect()
    assert(Similarity.seedModelsCached === 2)
    Similarity.clearSeedModels()
  }

  test("seed-model memo: a seed dir rewritten in place serves the new model") {
    Similarity.clearSeedModels()
    val p = java.nio.file.Files.createTempDirectory("seedstale").toString + "/seeds"
    val emb = (0 until 16).map(i => (i.toLong, Array.tabulate(4)(d => (i * 3 + d).toFloat + 1f)))
      .toDF("vec_id", "embedding")
    def cells(): Set[Long] =
      Similarity.assignCells(emb, spark.read.parquet(p), "vec_id", "embedding")
        .select("cell").as[Long].collect().toSet
    emb.filter($"vec_id" < 2).write.mode("overwrite").parquet(p)
    assert(cells().subsetOf(Set(0L, 1L)))
    emb.filter($"vec_id" >= 14).write.mode("overwrite").parquet(p)
    assert(cells().subsetOf(Set(14L, 15L)),
      "the memo served the model collected before the seed files were rewritten")
    Similarity.clearSeedModels()
  }

  test("containmentPairs finds the quoted excerpt symmetric Jaccard misses") {
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val quote = (20 to 31).map(i => s"w$i").mkString(" ") // 12-token excerpt
    val noise = (1 to 40).map(i => s"n$i").mkString(" ")
    val docs = Seq((1L, long), (2L, quote), (3L, noise)).toDF("doc_id", "text")
    val got = NearDup.containmentPairs(docs, "doc_id", "text",
        threshold = 0.9, n = 3)
      .as[(Long, Long, Double, Double, Double)].collect()
    graft.core.OpCache.release()
    assert(got.length === 1, s"expected exactly the quote pair, got ${got.toSeq}")
    val (a, b, cab, cba, j) = got.head
    assert((a, b) === ((1L, 2L)))
    assert(cba === 1.0, s"quote fully contained: $cba") // B (quote) inside A
    assert(cab < 0.9 && j < 0.5,
      s"the pair must be LOW-Jaccard (else symmetric dedup would catch it): c=$cab j=$j")
    // the motivation: symmetric banded near-dup at 0.5 does NOT find it
    val sym = NearDup.nearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    graft.core.OpCache.release()
    assert(!sym.exists(p => p._1 == 1L && p._2 == 2L),
      "symmetric Jaccard unexpectedly caught the quote pair — test premise broken")
  }

  test("nearestSeed: argmax id + exact cosine equal a driver-side brute force; ties to lowest seed") {
    val emb = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(6)(d => ((i * 11 + d * 5) % 17).toFloat / 17f - 0.3f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.nearestSeed(
        emb.filter($"vec_id" >= 5), emb.filter($"vec_id" < 5), "vec_id", "embedding")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val vecs = (0 until 40).map(i =>
      i.toLong -> Array.tabulate(6)(d =>
        (((i * 11 + d * 5) % 17).toFloat / 17f - 0.3f).toDouble)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na * nb > 0) dot / (na * nb) else 0.0
    }
    for (id <- 5L until 40L) {
      // double-precision replay: argmax must agree (the engine's
      // decimal-exact sims differ from the replay by ~1e-12 — far
      // from any argmax boundary in this construction)
      val sims = (0L until 5L).map(s => s -> cos(vecs(id), vecs(s)))
      val best = sims.maxBy { case (s, v) => (v, -s) }
      assert(out(id)._1 === best._1, s"vec $id: wrong nearest seed")
      assert(math.abs(out(id)._2 - best._2) < 1e-9, s"vec $id: sim off")
    }
  }

  test("nearestSeedRowwise ≡ nearestSeed (the streaming-capable projection matches the grouped argmax)") {
    val emb = (0 until 48).map(i =>
      (i.toLong, Array.tabulate(5)(d => ((i * 7 + d * 13) % 23).toFloat / 23f - 0.4f)))
      .toDF("vec_id", "embedding")
    val corpus = emb.filter($"vec_id" >= 6)
    val seeds = emb.filter($"vec_id" < 6)
    val a = Similarity.nearestSeed(corpus, seeds, "vec_id", "embedding")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val b = Similarity.nearestSeedRowwise(corpus, seeds, "vec_id", "embedding")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(a === b)
  }

  test("contamination: seeded-random equivalence vs a driver-side naive reference") {
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    def doc() = Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpusRows = (1L to 60L).map(i => (i, doc()))
    val benchRows = (100L to 104L).map(i => (i, doc()))
    val w = 3
    def windows(text: String): Set[String] = {
      val t = text.split(" ").filter(_.nonEmpty)
      if (t.length < w) Set(t.mkString(" "))
      else t.sliding(w).map(_.mkString(" ")).toSet
    }
    val benchWins = benchRows.flatMap(r => windows(r._2)).toSet
    val expected = corpusRows
      .map { case (id, tx) => id -> windows(tx).count(benchWins) }
      .filter(_._2 > 0).toMap
    val got = Dedup.contamination(corpusRows.toDF("doc_id", "text"), "doc_id", "text",
        benchRows.toDF("doc_id", "text"), "text", windowTokens = w)
      .as[(Long, Long)].collect().toMap
    assert(expected.nonEmpty, "seed produced no contaminated docs — pick another seed")
    assert(got === expected.map { case (k, v) => k -> v.toLong })
  }

  test("semDedup: seeded-random equivalence vs a driver-side naive reference") {
    // small-integer vectors: products and squared norms are exact in
    // double, so the naive double reference matches the decimal-exact
    // engine path bit-for-bit (no FP-tie ambiguity)
    val rnd = new scala.util.Random(77)
    val dim = 4
    val rows = (0L until 40L).map(i =>
      (i, Array.fill(dim)((rnd.nextInt(9) - 4).toFloat)))
    val nSeeds = 4
    val threshold = 0.9
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      if (na * nb > 0) d / (na * nb) else 0.0
    }
    val seeds = rows.filter(_._1 < nSeeds)
    val assign = rows.map { case (id, v) =>
      // argmax cosine, ties → lowest cell id (the engine recurrence)
      val best = seeds.map { case (cid, sv) => (cos(v, sv), cid) }
        .maxBy { case (sim, cid) => (sim, -cid) }
      id -> best._2
    }.toMap
    val dropped = rows.flatMap { case (idB, vb) =>
      rows.collectFirst { case (idA, va)
        if idA < idB && assign(idA) == assign(idB) && cos(va, vb) >= threshold => idB }
    }.toSet
    val expected = rows.map { case (id, _) => (id, assign(id), !dropped(id)) }.toSet
    val got = Similarity.semDedup(rows.toDF("vec_id", "embedding"),
        rows.filter(_._1 < nSeeds).toDF("vec_id", "embedding"),
        "vec_id", "embedding", threshold)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(dropped.nonEmpty, "seed produced no drops — pick another seed")
    assert(got === expected)
  }

  test("q49 oracle-parity guard: components over LSH pairs ≡ components over exact all-pairs") {
    // q49 gates LSH-candidate-restricted pairs against an exact
    // all-pairs oracle. LSH detection is DETERMINISTIC per pair (fixed
    // xxhash64 seeds), but a pair at Jaccard just above 0.5 has only
    // ~40% band-collision mass at 32 hashes / 8 bands — and this
    // corpus DOES contain such borderline pairs (79 in [0.5, 0.95) at
    // sf0.01). The gate is sound iff every missed pair is REDUNDANT —
    // its endpoints already connected through detected edges — i.e.
    // the connected-components labeling is identical for the LSH edge
    // set and the exact all-pairs edge set. This recomputes both on
    // the EXACT q49 corpus at the driver's gate SF and fails loudly if
    // a corpus change ever plants a borderline pair that LSH misses
    // AND that bridges two otherwise-separate clusters.
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val d0 = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val mutated = d0.select((col("doc_id") + 100000).as("doc_id"),
      concat_ws(" ", slice(graft.functions.Text.tokens(col("text")), 2, 100000)).as("text"))
    val corpus = d0.unionByName(mutated)
    val sh = corpus.select(col("doc_id"), NearDup.shingles(col("text"), 3).as("s"))
      .select(col("doc_id"), col("s"), size(col("s")).as("n"))
    val a = sh.select(col("doc_id").as("ida"), col("s").as("sa"), col("n").as("na"))
    val b = sh.select(col("doc_id").as("idb"), col("s").as("sb"), col("n").as("nb"))
    val exactPairs = a.crossJoin(b)
      .filter(col("ida") < col("idb"))
      // exact prune: J ≥ 0.5 forces |A∩B| ≥ 0.5·|A∪B|, so the shingle
      // counts must be within 2× of each other — skip the array work
      // for the overwhelming majority of pairs
      .filter(least(col("na"), col("nb")).cast("double") /
        greatest(col("na"), col("nb")).cast("double") >= 0.5)
      .filter(NearDup.jaccard(col("sa"), col("sb")) >= 0.5)
      .select(col("ida").as("id_a"), col("idb").as("id_b"))
    val lshPairs = NearDup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.5)
    val verts = corpus.select("doc_id")
    val viaExact = Dedup.componentsStar(verts, "doc_id", exactPairs, "id_a", "id_b")
    val viaLsh = Dedup.componentsStar(verts, "doc_id", lshPairs, "id_a", "id_b")
    assert(viaExact.count() > 0)
    assert(viaExact.exceptAll(viaLsh).isEmpty && viaLsh.exceptAll(viaExact).isEmpty,
      "LSH missed a CLUSTER-BRIDGING pair — q49's engine and its exact " +
        "all-pairs oracle now disagree; switch the gated query to an exact verify")
    // sanity: the guard actually saw the planted near-dup structure
    assert(viaExact.filter(col("v") =!= col("comp")).count() > 0,
      "guard saw no clustered docs — corpus shape changed?")
    spark.catalog.clearCache() // nearDupPairs persists its shingle frame
  }

  test("incremental near-dedup: per-batch union ≡ batch over everything; state appends") {
    val rnd = new scala.util.Random(53)
    val vocab = (0 until 50).map(i => s"w$i")
    def doc(): String = Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // 30 base docs; every third gets a near-dup (first token dropped)
    val base = (0L until 30L).map(i => (i, doc()))
    val muts = base.collect { case (i, t) if i % 3 == 0 =>
      (i + 1000L, t.split(" ").drop(1).mkString(" "))
    }
    val all = base ++ muts
    // batch 1 = ids < 15 and their mutants; batch 2 = the rest
    val (b1, b2) = all.partition { case (id, _) => id % 1000 < 15 }
    val h = b1.toDF("doc_id", "text")
    val d2 = b2.toDF("doc_id", "text")

    def bandsOf(df: org.apache.spark.sql.DataFrame) = {
      val sigs = df.select($"doc_id", NearDup.shingles($"text", 3).as("_sh"))
        .select($"doc_id", NearDup.minhashSignature($"_sh", 32).as("_sig"))
      NearDup.lshBands(sigs, "doc_id", "_sig", 8)
    }
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet

    val batch1Pairs = pairSet(NearDup.nearDupPairs(h, "doc_id", "text", 0.5))
    val (incPairs, newBands) = NearDup.incrementalNearDupPairs(
      bandsOf(h), h, d2, "doc_id", "text", threshold = 0.5)
    val full = pairSet(NearDup.nearDupPairs(
      h.unionByName(d2), "doc_id", "text", 0.5))
    assert(batch1Pairs.union(pairSet(incPairs)) === full)
    // disjoint: the incremental step never re-emits history pairs
    assert(batch1Pairs.intersect(pairSet(incPairs)).isEmpty)
    // returned delta bands + stored bands = the full corpus index
    val merged = bandsOf(h).unionByName(newBands)
    assert(merged.count() === bandsOf(h.unionByName(d2)).count())
  }

  test("incremental near-dedup: re-crawled id emits each pair ONCE, from current content") {
    // doc 1 is in history AND re-crawled in the delta; doc 1001 is a
    // new delta doc near-dup with it. Without superseding the stale
    // stored bands, the (1, 1001) pair is emitted TWICE — once through
    // doc 1's stored bands (histPairs) and once through the delta
    // self-join (deltaPairs) — and Set-comparison specs hide it.
    val text = (0 until 20).map(i => s"tok$i").mkString(" ")
    val h = Seq((1L, text), (2L, "totally different words here entirely distinct"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (1L, text),                                      // re-crawl, same content
      (1001L, text.split(" ").drop(1).mkString(" ")))  // near-dup of doc 1
      .toDF("doc_id", "text")
    val sigs = h.select($"doc_id", NearDup.shingles($"text", 3).as("_sh"))
      .select($"doc_id", NearDup.minhashSignature($"_sh", 32).as("_sig"))
    val state = NearDup.lshBands(sigs, "doc_id", "_sig", 8)
    val (pairs, _) = NearDup.incrementalNearDupPairs(
      state, h, delta, "doc_id", "text", threshold = 0.5)
    val rows = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(rows.size === rows.distinct.size,
      s"pair list must be duplicate-free, got $rows")
    assert(rows.toSet === Set((1L, 1001L)))
  }

  test("one band derivation: bandIndex ≡ the hand-built chain; stored + delta bands ≡ full index") {
    val rnd = new scala.util.Random(59)
    val vocab = (0 until 50).map(i => s"w$i")
    val base = (0L until 30L).map(i => (i, Seq.fill(20)(vocab(rnd.nextInt(50))).mkString(" ")))
    val muts = base.collect { case (i, t) if i % 3 == 0 =>
      (i + 1000L, t.split(" ").drop(1).mkString(" "))
    }
    val (b1, b2) = (base ++ muts).partition { case (id, _) => id % 1000 < 15 }
    val h = b1.toDF("doc_id", "text")
    val d2 = b2.toDF("doc_id", "text")
    def rows(df: DataFrame) =
      df.select("doc_id", "band", "band_hash").orderBy("doc_id", "band")
        .as[(Long, Int, Long)].collect().toSeq
    val sigs = h.select($"doc_id", NearDup.shingles($"text", 3).as("_sh"))
      .select($"doc_id", NearDup.minhashSignature($"_sh", 32).as("_sig"))
    val handBuilt = rows(NearDup.lshBands(sigs, "doc_id", "_sig", 8))
    assert(rows(NearDup.bandIndex(h, "doc_id", "text")) === handBuilt)
    assert(handBuilt.size === 8 * h.count())
    val (_, deltaBands) = NearDup.incrementalNearDupPairs(
      NearDup.bandIndex(h, "doc_id", "text"), h, d2, "doc_id", "text", threshold = 0.5)
    assert((handBuilt ++ rows(deltaBands)).toSet ===
      rows(NearDup.bandIndex(h.unionByName(d2), "doc_id", "text")).toSet)
    graft.core.OpCache.release()
  }

  test("banded near-dup entry points reject inputs outside the contract, naming operator and parameter") {
    val docs = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    val state = NearDup.bandIndex(docs, "doc_id", "text")
    // (operator, the parameters it takes, a call at n, numHashes, bands, threshold)
    val entries: Seq[(String, Set[String], (Int, Int, Int, Double) => Any)] = Seq(
      ("NearDup.nearDupPairs", Set("n", "numHashes", "bands", "threshold"),
        (n, k, b, t) => NearDup.nearDupPairs(docs, "doc_id", "text", t, n, k, b)),
      ("NearDup.bbitPrefilteredPairs", Set("n", "numHashes", "bands", "threshold"),
        (n, k, b, t) => NearDup.bbitPrefilteredPairs(docs, "doc_id", "text", t,
          n = n, numHashes = k, bands = b)),
      ("NearDup.incrementalNearDupPairs", Set("n", "numHashes", "bands", "threshold"),
        (n, k, b, t) => NearDup.incrementalNearDupPairs(state, docs, docs,
          "doc_id", "text", t, n, k, b)),
      ("NearDup.containmentPairs", Set("n", "threshold"),
        (n, _, _, t) => NearDup.containmentPairs(docs, "doc_id", "text", t, n)),
      ("NearDup.bandIndex", Set("n", "numHashes", "bands"),
        (n, k, b, _) => NearDup.bandIndex(docs, "doc_id", "text", n, k, b)),
      ("NearDup.shingleTable", Set("n"),
        (n, _, _, _) => NearDup.shingleTable(docs, "doc_id", "text", n)))
    // (the parameter at fault, n, numHashes, bands, threshold); 128/32
    // is a valid banding for every entry point, the b-bit one included
    val bad = Seq(
      ("n", 0, 128, 32, 0.5), ("n", -1, 128, 32, 0.5),
      ("numHashes", 3, 0, 32, 0.5), ("numHashes", 3, -64, 32, 0.5),
      ("bands", 3, 128, 0, 0.5), ("bands", 3, 128, -32, 0.5),
      ("numHashes", 3, 128, 48, 0.5),
      ("threshold", 3, 128, 32, 0.0), ("threshold", 3, 128, 32, -0.5),
      ("threshold", 3, 128, 32, 1.5), ("threshold", 3, 128, 32, Double.NaN))
    for ((op, takes, call) <- entries; (param, n, k, b, t) <- bad if takes(param)) {
      val e = intercept[IllegalArgumentException](call(n, k, b, t))
      assert(e.getMessage.contains(op) && e.getMessage.contains(param),
        s"$op at n=$n numHashes=$k bands=$b threshold=$t: ${e.getMessage}")
    }
    // the boundary threshold 1.0 is inside the contract
    assert(NearDup.nearDupPairs(docs, "doc_id", "text", 1.0).count() === 0)
    graft.core.OpCache.release()
  }

  test("hardNegatives: k nearest OTHER-label vectors; same-label crowding cannot under-fill k") {
    // anchor 0 (label 1) sits in a dense label-1 cluster; the nearest
    // label-2 vectors are farther — a plain top-k-then-filter would
    // return fewer than k negatives
    val emb = Seq(
      (0L, Array(10f, 0f), 1),
      (1L, Array(10f, 0.1f), 1), (2L, Array(10f, -0.1f), 1), (3L, Array(9.9f, 0f), 1),
      (10L, Array(8f, 2f), 2), (11L, Array(8f, -2f), 2), (12L, Array(0f, 10f), 2),
      (20L, Array(-10f, 0f), 3)).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(
        emb.filter($"vec_id" === 0), emb, "vec_id", "embedding", "label", k = 3)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(out.map(_._1).toSeq === Seq(10L, 11L, 12L),
      s"expected the three nearest label!=1 vectors in similarity order, got ${out.toSeq}")
    // none of the (closer) same-label vectors leaked in
    assert(!out.map(_._1).exists(Set(1L, 2L, 3L)))
  }

  test("ivfTopK accepts kmeans-trained centroids") {
    val emb = Seq(
      (0L, Array(10f, 0f)), (1L, Array(0f, 10f)),
      (10L, Array(10f, 1f)), (11L, Array(10f, -1f)),
      (20L, Array(1f, 10f)), (21L, Array(-1f, 10f)),
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 2, iters = 2)
    val res = Similarity.ivfTopK(
        emb.filter($"vec_id" === 10), emb, "vec_id", "embedding",
        dim = 2, k = 2, nCentroids = 2, nProbe = 1, trained = Some(cents))
      .select("neighbor_id").as[Long].collect().toSet
    assert(res === Set(0L, 11L)) // same-cell cluster X members
  }

  test("stored IVF index: ivfTopKFromIndex ≡ ivfTopKSeeded on random embeddings") {
    val rnd = new scala.util.Random(19)
    val emb = (0L until 120L).map(i =>
      (i, Array.fill(6)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val seeds = emb.filter($"vec_id" < 8)
    val queries = emb.filter($"vec_id" % 11 === 0)
    val inline = Similarity.ivfTopKSeeded(
        queries, emb, seeds, "vec_id", "embedding", k = 4, nProbe = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    Similarity.buildIvfIndex(emb, seeds, "vec_id", "embedding")
      .write.mode("overwrite").parquet(dir)
    val viaIndex = Similarity.ivfTopKFromIndex(
        queries, emb, spark.read.parquet(dir), seeds,
        "vec_id", "embedding", k = 4, nProbe = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(viaIndex === inline,
      "the stored-index path must reproduce the inline operator exactly")
    graft.core.OpCache.release(blocking = true)
  }

  test("randomProjectExact: partitioning-invariant; JL distances roughly preserved") {
    val rnd = new scala.util.Random(41)
    val emb = (0L until 60L).map(i => (i, Array.fill(32)(rnd.nextFloat() * 2f - 1f)))
    val df = emb.toDF("vec_id", "embedding")
    def runP(parts: Int) = Similarity.randomProjectExact(
        df.repartition(parts), "vec_id", "embedding", inDim = 32, outDim = 8)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getDouble).toVector).toMap
    val a = runP(1); val b = runP(7)
    assert(a === b, "projection must be bit-identical at any parallelism")
    // JL sanity: scaled pairwise distances within a loose band (fixed
    // seed ⇒ deterministic outcome). E[||Px||²] = inDim·||x||²... with
    // ±1 entries, E over signs of ||Px||² = outDim·||x||²? No: each
    // component p_j = Σ s_ij x_i has E[p_j²] = ||x||², so
    // E[||Px||²] = outDim·||x||² — compare dist²(P)/outDim to dist².
    val raw = emb.toMap
    def d2(x: Array[Float], y: Array[Float]) =
      x.zip(y).map { case (u, v) => (u - v).toDouble * (u - v) }.sum
    def d2p(x: Vector[Double], y: Vector[Double]) =
      x.zip(y).map { case (u, v) => (u - v) * (u - v) }.sum
    val ratios = for (i <- 0L until 20L; j <- (i + 1) until 20L) yield {
      val o = d2(raw(i), raw(j))
      val pq = d2p(a(i), a(j)) / 8.0
      pq / o
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"JL mean distortion off: $mean")
  }

  test("lshTuningTable: all factorizations, closed-form S-curve, monotone in bands") {
    val t = NearDup.lshTuningTable(spark, 32, jHigh = 0.8, jLow = 0.3)
      .orderBy("bands")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(t.map(r => (r._1, r._2)).toSeq ===
      Seq((1L, 32L), (2L, 16L), (4L, 8L), (8L, 4L), (16L, 2L), (32L, 1L)))
    // closed form at b=8, r=4: 1-(1-0.8^4)^8
    val p84 = t.find(_._1 == 8).get._3
    assert(math.abs(p84 - (1 - math.pow(1 - math.pow(0.8, 4), 8))) < 1e-6)
    // more bands (shorter rows) catch MORE at every j: both columns
    // monotone non-decreasing in bands
    assert(t.map(_._3).sliding(2).forall(p => p(0) <= p(1)))
    assert(t.map(_._4).sliding(2).forall(p => p(0) <= p(1)))
    // 32x1 banding catches everything with j>0 almost surely at j=0.8
    assert(t.last._3 > 0.999999 || t.last._3 === 1.0)
  }
}
