package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Planted-skew stress bench: measures the de-skewed operator shapes
  * against the per-key-window forms they replaced (round 5-7 work; see
  * PLANS.md) under a planted hot key — the regime the sf corpora never
  * exercise.
  *
  * The claim under test is a SCALING claim, not a constant-factor one:
  * a `min()/count().over(Window.partitionBy(hotKey))` puts the whole
  * hot-key partition in ONE task (sort + single-threaded scan, and no
  * optimizer rule can split a window partition), while the partial-agg
  * `groupBy(hotKey)` form combines map-side (the hot key's agg
  * exchange carries one partial row per map partition, not N rows)
  * and its join-back is splittable by AQE skew-join once the hot
  * partition crosses the skew threshold. So the experiment is a
  * SWEEP: one large-star round over a pure N-member star (root
  * degree = N — what near-dup graphs converge to), N rising until
  * the hot key's shuffle partition crosses stock AQE's 256 MB skew
  * threshold.
  *
  * Two metrics per variant, because local[k] wall-clock answers the
  * wrong question: on one box both forms share the same cores and
  * memory bus, so wall time measures TOTAL work; on a 1000-executor
  * cluster wall time is the CRITICAL PATH — the longest single task.
  * So alongside wall seconds the bench records, via SparkListener
  * task metrics, the longest task (executorRunTime) and the largest
  * per-task shuffle-read row count. The window form must read the
  * entire symmetrized hot key (≈2N rows) in one task at any N — that
  * single number IS its cluster wall-clock floor, growing linearly
  * with N no matter how many executors exist. The partial-agg form's
  * heaviest task is bounded by the map-partition count and AQE
  * splitting.
  *
  * Also timed end-to-end at fixed (small) scale for regression
  * context: componentsStar and substringWindowPairs vs their legacy
  * window twins — at toy scale the window forms MAY win on exchange
  * count; the numbers document that trade honestly.
  *
  * Prints one JSON line. Results land in PERF.md.
  */
object SkewBench {

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Interleaved min-of-2: the first Spark jobs in a JVM pay warmup,
    * which a single pass charges to whichever variant runs first.
    */
  private def minOf2(body: => Long): (Long, Double) = {
    val (a1, t1) = time(body)
    val (a2, t2) = time(body)
    require(a1 == a2, s"nondeterministic variant: $a1 vs $a2")
    (a1, math.min(t1, t2))
  }

  /** Per-run task-level maxima — the cluster critical-path proxy —
    * plus TOTAL shuffle-write bytes (the linear-vs-quadratic-bytes
    * claims of the fuzzy-join long-key sweep are about volume, not
    * the longest task).
    */
  private final class TaskMaxListener
      extends org.apache.spark.scheduler.SparkListener {
    val maxRunMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val maxShuffleRows = new java.util.concurrent.atomic.AtomicLong(0L)
    val totalShuffleWriteBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    def reset(): Unit = {
      maxRunMs.set(0L); maxShuffleRows.set(0L); totalShuffleWriteBytes.set(0L)
    }
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        maxRunMs.accumulateAndGet(m.executorRunTime, math.max(_, _))
        val sr = m.shuffleReadMetrics
        if (sr != null)
          maxShuffleRows.accumulateAndGet(sr.recordsRead, math.max(_, _))
        val sw = m.shuffleWriteMetrics
        if (sw != null) totalShuffleWriteBytes.addAndGet(sw.bytesWritten)
      }
    }
  }

  private case class Meas(result: Long, wall: Double, maxTaskSec: Double,
      maxTaskShuffleRows: Long, shuffleWriteBytes: Long = 0L) {
    def json: String =
      f"""{"wall":$wall%.3f,"max_task_sec":$maxTaskSec%.3f,""" +
        s""""max_task_shuffle_rows":$maxTaskShuffleRows,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes}"""
  }

  /** minOf2 with listener maxima from the faster run; TaskEnd events
    * land asynchronously, so each run drains the listener bus (outside
    * the timed region) before reading the maxima. */
  private def minOf2M(l: TaskMaxListener)(body: => Long): Meas = {
    def once(): Meas = {
      l.reset()
      val (a, t) = time(body)
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(
        SparkSession.active.sparkContext)
      Meas(a, t, l.maxRunMs.get / 1e3, l.maxShuffleRows.get,
        l.totalShuffleWriteBytes.get)
    }
    val m1 = once()
    val m2 = once()
    require(m1.result == m2.result,
      s"nondeterministic variant: ${m1.result} vs ${m2.result}")
    if (m2.wall < m1.wall) m2 else m1
  }

  // ---- legacy per-key-window forms (measurement baselines ONLY) ----

  private def largeStarRoundWindow(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    sym.withColumn("_nmin", min(col("v")).over(Window.partitionBy("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), least(col("u"), col("_nmin")).as("v"))
      .distinct()
  }

  private def smallStarRoundWindow(edges: DataFrame): DataFrame = {
    val dir = edges.select(
      greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val withMin = dir.withColumn("_m", min(col("v")).over(Window.partitionBy("u")))
    withMin.filter(col("v") =!= col("_m"))
      .select(col("v").as("u"), col("_m").as("v"))
      .union(withMin.select(col("u"), col("_m").as("v")).distinct())
      .distinct()
  }

  /** componentsStar's loop with the window-form rounds swapped in —
    * identical fixed point, legacy physical shape.
    */
  private def componentsStarWindow(
      vertices: DataFrame, pairs: DataFrame, maxIter: Int = 60): DataFrame = {
    def cp(df: DataFrame): DataFrame = df.localCheckpoint(true)
    def fingerprint(edges: DataFrame): (Long, Long) = {
      val r = edges.agg(count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h")).head()
      (r.getLong(0), r.getLong(1))
    }
    var edges = cp(pairs
      .select(col("a").as("u"), col("b").as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct())
    var fp = fingerprint(edges)
    var iter = 0
    var converged = edges.isEmpty
    while (!converged && iter < maxIter) {
      edges = cp(smallStarRoundWindow(largeStarRoundWindow(edges)))
      val fpNext = fingerprint(edges)
      converged = fpNext == fp
      fp = fpNext
      iter += 1
    }
    vertices.select(col("id").as("v"))
      .join(edges.select(col("u").as("v"), col("v").as("_root")), Seq("v"), "left")
      .select(col("v"), coalesce(col("_root"), col("v")).as("comp"))
  }

  private def substringPairsWindowDf(
      df: DataFrame, windowTokens: Int, maxDf: Int): DataFrame = {
    val wins = df
      .select(col("doc_id").as("_id"),
        explode(graft.operators.NearDup.shingles(col("text"), windowTokens)).as("_win"))
      .select(col("_id"), xxhash64(col("_win")).as("_wh"))
    val kept = wins
      .withColumn("_df", count(lit(1)).over(Window.partitionBy("_wh")))
      .filter(col("_df") >= 2 && col("_df") <= maxDf)
      .select("_id", "_wh")
    kept.select(col("_id").as("id_a"), col("_wh"))
      .join(kept.select(col("_id").as("id_b"), col("_wh")), Seq("_wh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_windows"))
  }

  /** The pre-round-11 editDistance1Pairs (baseline ONLY): full strings
    * ride the candidate shuffle once per deletion variant — O(Σ|s|·|s|)
    * shuffle bytes, the quadratic-in-key-length behaviour the hashed
    * form replaced.
    */
  private def editDistance1PairsLegacy(df: DataFrame, strCol: String): DataFrame = {
    val vars = df.select(col(strCol).as("_s")).distinct()
      .select(col("_s"),
        explode(graft.operators.FuzzyJoin.deletionNeighborhood(col("_s"))).as("_v"))
    val a = vars.select(col("_s").as("a"), col("_v"))
    val b = vars.select(col("_s").as("b"), col("_v"))
    a.join(b, "_v")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
      .filter(levenshtein(col("a"), col("b")) <= 1)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // single-round sweep sizes: last one puts the hot key's shuffle
    // partition past stock AQE's 256 MB skew threshold
    val sweepNs = sys.env.getOrElse("SPARK_GRAFT_SKEW_SWEEP",
      "4000000,16000000,64000000").split(",").map(_.trim.toLong)
    val clusterSize = sys.env.getOrElse("SPARK_GRAFT_SKEW_CLUSTER", "1000000").toInt
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_SKEW_DOCS", "100000").toInt
    // STOCK AQE — the sweep crosses the real 256 MB threshold instead
    // of emulating it, so the numbers are the defaults' numbers
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- 1. star-round scaling sweep (the claim's direct test) ----
    // pure star: every doc duplicates doc 0 → root degree = N. One
    // largeStarRound, both forms, count-materialized.
    val listener = new TaskMaxListener
    spark.sparkContext.addSparkListener(listener)
    val sweep = sweepNs.map { n =>
      val edges = spark.range(1, n).select(col("id").as("u"), lit(0L).as("v"))
      val cur = minOf2M(listener) {
        graft.operators.Dedup.largeStarRound(edges).agg(count(lit(1))).head().getLong(0)
      }
      val win = minOf2M(listener) {
        largeStarRoundWindow(edges).agg(count(lit(1))).head().getLong(0)
      }
      require(cur.result == win.result,
        s"round output disagreement at n=$n: ${cur.result} vs ${win.result}")
      (n, cur, win)
    }

    // ---- 2. end-to-end components at fixed small scale ----
    val cluster = spark.range(1, clusterSize)
      .select(col("id").as("a"), lit(0L).as("b"))
    val chainBase = 10000000L
    val chains = spark.range(0, 100000)
      .filter(col("id") % 100 =!= 99) // break into chains of length 100
      .select((col("id") + chainBase).as("a"), (col("id") + chainBase + 1).as("b"))
    val pairs = cluster.union(chains)
    val vertices = spark.range(0, clusterSize).select(col("id"))
      .union(spark.range(chainBase, chainBase + 100000).select(col("id")))

    val (nCur, tCur) = minOf2 {
      graft.operators.Dedup.componentsStar(vertices, "id", pairs, "a", "b")
        .agg(countDistinct(col("comp"))).head().getLong(0)
    }
    val (nWin, tWin) = minOf2 {
      componentsStarWindow(vertices, pairs)
        .agg(countDistinct(col("comp"))).head().getLong(0)
    }
    require(nCur == nWin, s"variant disagreement: $nCur vs $nWin components")

    // ---- 3. substring df under a shared boilerplate window ----
    val boiler = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    val docs = spark.range(0, nDocs).select(
      col("id").as("doc_id"),
      concat(
        lit(boiler + " "),
        format_string("u%da v%db w%dc x%dd", col("id"), col("id"), col("id"), col("id")),
        when(col("id") % 100 < 2, { // doc pairs (2k, 2k+1) share a run
          val h = floor(col("id") / 2).cast("long")
          format_string(" p%d q%d r%d s%d t%d n%d o%d z%d y%d k%d",
            h, h, h, h, h, h, h, h, h, h)
        }).otherwise(lit(""))).as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count()

    val (pCur, tDfCur) = minOf2 {
      graft.operators.Dedup.substringWindowPairs(docs, "doc_id", "text",
        windowTokens = 10, maxDf = 16)
        .agg(count(lit(1))).head().getLong(0)
    }
    val (pWin, tDfWin) = minOf2 {
      substringPairsWindowDf(docs, windowTokens = 10, maxDf = 16)
        .agg(count(lit(1))).head().getLong(0)
    }
    require(pCur == pWin, s"variant disagreement: $pCur vs $pWin pairs")

    // ---- 4. BM25 planted hot term: a term in EVERY document ----
    // The failure mode this rules out: corpus stats computed per-term
    // via explode+groupBy would send one row per (hot-term, doc) to
    // one reducer. The single-row mergeable aggregate's exchange must
    // instead carry one partial row per map partition — max-task
    // shuffle rows FLAT in corpus size.
    val bm25Ns = sys.env.getOrElse("SPARK_GRAFT_SKEW_BM25", "1000000,4000000")
      .split(",").map(_.trim.toLong)
    val bm25 = bm25Ns.map { n =>
      val bdocs = spark.range(0, n).select(col("id").as("doc_id"),
        concat_ws(" ", lit("hot"),
          concat(lit("u"), col("id")), concat(lit("v"), col("id")),
          when(col("id") % 1000 === 0, lit("rare"))
            .otherwise(concat(lit("w"), col("id")))).as("text"))
      val m = minOf2M(listener) {
        graft.operators.Retrieval.bm25TopK(
            bdocs, "doc_id", "text", Seq("hot", "rare"), k = 10)
          .agg(count(lit(1))).head().getLong(0)
      }
      (n, m)
    }

    // ---- 5. fuzzy join long-key sweep + hot shared variant ----
    // (a) unique long keys: current (hashed-variant) shuffle bytes
    // must grow ~linearly in key length; the legacy string-shuffling
    // form grows ~quadratically.
    val fuzzKeys = sys.env.getOrElse("SPARK_GRAFT_SKEW_FUZZ_KEYS", "10000").toInt
    val fuzzLens = sys.env.getOrElse("SPARK_GRAFT_SKEW_FUZZ_LENS", "64,256")
      .split(",").map(_.trim.toInt)
    // at toy scale Catalyst auto-broadcasts the candidate join and the
    // byte claim measures nothing; at 10⁹ keys neither side fits a
    // broadcast — force the shuffle plan the claim is about
    val savedBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val fuzzy = fuzzLens.map { len =>
      // chain DISTINCT md5 blocks: a repeated single block would let
      // shuffle compression (lz4) collapse the legacy form's
      // quadratic bytes and mask the comparison
      val reps = len / 32 + 1
      val blocks = (0 until reps).map(j =>
        md5((col("id") * reps + j).cast("string")))
      val base = spark.range(0, fuzzKeys).select(
        substring(concat(blocks: _*), 1, len).as("s"))
      val cur = minOf2M(listener) {
        graft.operators.FuzzyJoin.editDistance1Pairs(base, "s")
          .agg(count(lit(1))).head().getLong(0)
      }
      val leg = minOf2M(listener) {
        editDistance1PairsLegacy(base, "s").agg(count(lit(1))).head().getLong(0)
      }
      require(cur.result == leg.result,
        s"fuzzy variant disagreement at len=$len: ${cur.result} vs ${leg.result}")
      (len, cur, leg)
    }
    // (b) hot shared variant: N strings differing only in their first
    // char all share the delete-first-char variant → the candidate
    // set is genuinely all-pairs (they ARE all within distance 1 —
    // FastSS semantics, not a defect). What must stay bounded is the
    // per-row cost riding that hot shuffle partition: 16-byte hash
    // rows (AQE-splittable), not full strings.
    val hotN = sys.env.getOrElse("SPARK_GRAFT_SKEW_FUZZ_HOT", "2000").toInt
    val hotTail = "commonsuffixsharedbyallhotkeysxx"
    // one DISTINCT single char per string (BMP codepoints ≥ 0x400 —
    // Spark's chr() mods at 256, so index into a literal alphabet
    // instead), so every string's delete-first-char variant IS the
    // shared tail: ONE variant hash carrying all hotN strings
    val hotAlphabet = (0 until hotN).map(i => (0x400 + i).toChar).mkString
    val hotDf = spark.range(0, hotN)
      .select(concat(
        lit(hotAlphabet).substr((col("id") + 1).cast("int"), lit(1)),
        lit(hotTail)).as("s"))
      .union(spark.range(0, fuzzKeys).select(
        substring(repeat(md5(col("id").cast("string")), 3), 1, 64).as("s")))
    val hot = minOf2M(listener) {
      graft.operators.FuzzyJoin.editDistance1Pairs(hotDf, "s")
        .agg(count(lit(1))).head().getLong(0)
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBcast)

    // ---- 6. incremental refresh with one mega-key in the delta ----
    // partials() is a partial-aggregated groupBy: the mega-key's
    // exchange carries ONE partial row per map partition regardless of
    // delta size — max-task shuffle rows flat in N.
    val incN = sys.env.getOrElse("SPARK_GRAFT_SKEW_INC", "32000000").toLong
    val incKeys = Seq("k")
    val histView = graft.operators.IncrementalAgg.partials(
      spark.range(0, 100000).select(
        concat(lit("k"), col("id") % 50).as("k"),
        (col("id") % 97).cast("double").as("v"),
        to_date(lit("2024-05-01")).as("d")),
      incKeys, "v", "d")
    val inc = minOf2M(listener) {
      val delta = spark.range(0, incN).select(
        lit("hot").as("k"),
        (col("id") % 1000).cast("double").as("v"),
        to_date(lit("2024-06-01")).as("d"))
      graft.operators.IncrementalAgg.finish(
        graft.operators.IncrementalAgg.merge(
          histView.unionByName(
            graft.operators.IncrementalAgg.partials(delta, incKeys, "v", "d")),
          incKeys),
        incKeys)
        .agg(sum(col("n"))).head().getLong(0)
    }

    // ---- 7. PageRank mega-hub sweep ----
    // every vertex links the hub: in-degree(0) = N. The per-round
    // groupBy(dst) partial-aggregates, so the hub key ships one
    // partial row per map partition, NOT N contribution rows — max
    // task shuffle rows must stay flat as N quadruples.
    val prSweep = sweepNs.take(2).map { n =>
      val hubEdges = spark.range(1, n)
        .select(col("id").as("src"), lit(0L).as("dst"))
        .union(spark.range(1, 100000)
          .select(col("id").as("src"), (col("id") * 7919 % n).as("dst")))
      val m = minOf2M(listener) {
        // scale 10^6, per the operator's overflow contract: the hub's
        // in-degree is N, so 85·N·scale must stay under 2^63 — the
        // default 10^12 scale correctly THROWS (ANSI) at N=16M
        val r = graft.operators.PageRank.pageRank(hubEdges, "src", "dst",
          iterations = 2, scale = 1000000L)
          .agg(sum(col("rank_scaled"))).head().getLong(0)
        graft.core.OpCache.release(blocking = true)
        r
      }
      (n, m)
    }

    // ---- 8. BPE corpus-size sweep ----
    // vocab FIXED at 1000 words, corpus grows 4× by repetition: the
    // trainer's per-round work is a function of the DISTINCT-word
    // table, so 6-merge training pays the corpus only once (the
    // words0 collapse scan) — wall time must grow far sub-linearly
    // while corpus tokens quadruple.
    val bpeSweep = Seq(1000000L, 4000000L).map { n =>
      val docsDf = spark.range(0, n / 50).select(
        concat_ws(" ", transform(sequence(lit(0), lit(49)),
          i => concat(lit("w"), pmod(col("id") * 53 + i.cast("long") * 17, lit(1000L)))))
          .as("text"))
      val m = minOf2M(listener) {
        val model = graft.operators.BpeTrainer.train(docsDf, "text", numMerges = 6)
        model.agg(sum(col("freq"))).head().getLong(0)
      }
      (n, m)
    }

    // ---- 9. Hybrid BPE at a production-shaped vocab ----
    // 1000 merges over a 20k-distinct-word corpus: the all-distributed
    // loop would pay ~1000 sequential argmax jobs (minutes of pure
    // scheduling); trainHybrid runs 4 distributed rounds then collects
    // the model-sized word table and finishes driver-local — the
    // SkewBench claim is "1k merges in seconds", and the merge table
    // is bit-identical to the distributed loop's by the
    // BpeTrainerSpec property.
    val bpeHybrid = {
      val docsDf = spark.range(0, 40000L).select(
        concat_ws(" ", transform(sequence(lit(0), lit(49)),
          i => concat(lit("w"), pmod(col("id") * 53 + i.cast("long") * 17, lit(20000L)))))
          .as("text"))
      minOf2M(listener) {
        val model = graft.operators.BpeTrainer.trainHybrid(
          docsDf, "text", numMerges = 1000, distributedRounds = 4)
        model.agg(sum(col("freq"))).head().getLong(0)
      }
    }

    // ---- 10. DSIR scoring corpus sweep ----
    // bucket models are broadcast, so the ONLY shuffle in scoring is
    // the per-doc partial aggregation: as the corpus quadruples, max
    // task shuffle rows track docs/partitions (one partial row per
    // doc), never n-gram occurrences (~40×docs here) — the claim that
    // the model join adds zero shuffle.
    val dsirSweep = Seq(25000L, 100000L).map { n =>
      val docsDf = spark.range(0, n).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(19)),
          i => concat(lit("t"), pmod(col("id") * 31 + i.cast("long") * 13, lit(5000L)))))
          .as("text"))
      val target = docsDf.filter(col("doc_id") % 10 === 0)
      val m = minOf2M(listener) {
        val tc = graft.operators.Dsir.fitBucketCounts(target, "text", 1024)
        val rc = graft.operators.Dsir.fitBucketCounts(docsDf, "text", 1024)
        graft.operators.Dsir.importanceWeights(docsDf, "doc_id", "text", tc, rc, 1024)
          .agg(sum(col("n_ngrams"))).head().getLong(0)
      }
      (n, m)
    }

    // ---- 11. batch BM25 query-count sweep ----
    // one corpus pass for ALL standing queries: wall at Q=32 must sit
    // far below 8× the Q=4 wall (the per-query-scan loop's slope) —
    // the union tf-vector kernel and single stats row amortize the
    // scan, and the grouped bottom-k adds only Q·k-row shuffles.
    val bmqSweep = Seq(4, 32).map { q =>
      val corpusDf = spark.range(0, 200000L).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)),
          i => concat(lit("t"), pmod(col("id") * 37 + i.cast("long") * 11, lit(2000L)))))
          .as("text"))
      val queries = (0 until q).map(i =>
        (i.toLong, Seq(s"t${i * 13 % 2000}", s"t${(i * 13 + 7) % 2000}")))
      val m = minOf2M(listener) {
        graft.operators.Retrieval.bm25TopKBatch(
          corpusDf, "doc_id", "text", queries, k = 10)
          .agg(count(lit(1))).head().getLong(0)
      }
      (q, m)
    }

    val sweepJson = sweep.map { case (n, c, w) =>
      s"""{"n":$n,"current":${c.json},"legacy_window":${w.json}}"""
    }.mkString("[", ",", "]")
    val bm25Json = bm25.map { case (n, m) => s"""{"n":$n,"bm25":${m.json}}""" }
      .mkString("[", ",", "]")
    val fuzzyJson = fuzzy.map { case (len, c, l) =>
      s"""{"len":$len,"current":${c.json},"legacy_strings":${l.json}}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"skew","star_round_sweep":$sweepJson,""" +
      s""""cluster_size":$clusterSize,"n_docs":$nDocs,""" +
      s""""components":{"current":$tCur,"legacy_window":$tWin,"n_components":$nCur},""" +
      s""""substring_df":{"current":$tDfCur,"legacy_window":$tDfWin,"n_pairs":$pCur},""" +
      s""""bm25_hot_term":$bm25Json,""" +
      s""""fuzzy_longkey":$fuzzyJson,""" +
      s""""fuzzy_hot_variant":{"n_hot":$hotN,"meas":${hot.json}},""" +
      s""""incremental_megakey":{"n":$incN,"meas":${inc.json}},""" +
      s""""pagerank_hub":${prSweep.map { case (n, m) =>
        s"""{"n":$n,"meas":${m.json}}""" }.mkString("[", ",", "]")},""" +
      s""""bpe_corpus_sweep":${bpeSweep.map { case (n, m) =>
        s"""{"n_tokens":$n,"meas":${m.json}}""" }.mkString("[", ",", "]")},""" +
      s""""bpe_hybrid_1k":${bpeHybrid.json},""" +
      s""""dsir_corpus_sweep":${dsirSweep.map { case (n, m) =>
        s"""{"n_docs":$n,"meas":${m.json}}""" }.mkString("[", ",", "]")},""" +
      s""""bm25_batch_queries":${bmqSweep.map { case (q, m) =>
        s"""{"n_queries":$q,"meas":${m.json}}""" }.mkString("[", ",", "]")}}""")
    spark.stop()
  }
}
