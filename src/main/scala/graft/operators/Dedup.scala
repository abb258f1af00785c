package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.OpCache
import graft.core.OpCache.TrackedPersist

/** Deterministic first-wins deduplication (reference O18: `date UNIQUE`
  * + swallowed insert errors, populate_from_json.py:465, 531-535 —
  * duplicate dates in the input are silently dropped, first wins).
  *
  * Spark's `dropDuplicates` keeps an ARBITRARY row per key (whichever
  * partition wins the race), which breaks oracle parity and run-to-run
  * determinism on a cluster. `row_number() = 1` over an explicit
  * tiebreak order is deterministic at any parallelism — one shuffle on
  * the key, same as dropDuplicates would cost.
  */
object Dedup {

  /** Keep exactly one row per `keys`, the first by `order`. */
  def firstWins(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Connected components over an undirected edge list — the
    * cluster step of corpus-level near-dup dedup ("keep one document
    * per near-dup cluster"): returns (`v`, `comp`) where `comp` is the
    * MINIMUM vertex id reachable from `v`, so the canonical document
    * of every cluster is its lowest id — deterministic at any
    * parallelism, integer-only (no FP parity concerns).
    *
    * Iterative min-label propagation: each round is one equi-join
    * (labels across edges) + one partial-aggregated groupBy min, and
    * rounds needed = graph diameter. Near-dup graphs are shallow
    * (duplicate clusters are near-cliques), so a handful of rounds
    * converges; the per-round convergence check ships a single COUNT
    * scalar to the driver, never data. For adversarially deep graphs
    * (long chains) use [[componentsStar]] — O(log n) rounds on any
    * diameter.
    *
    * @param requireConvergence throw IllegalStateException if labels
    *        are still changing when `maxIter` is exhausted (default) —
    *        returning silently would hand callers wrong cluster
    *        assignments (duplicates retained) with no signal; pass
    *        false only if a best-effort partial clustering is wanted
    */
  def components(
      vertices: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 10,
      requireConvergence: Boolean = true): DataFrame = {
    // lazy cut: the round's changed-count is the action that
    // materializes it — one job per round, not two
    val ck = OpCache.checkpoints(vertices.sparkSession)
    val edges = pairs.select(col(aCol).as("_src"), col(bCol).as("_dst"))
      .union(pairs.select(col(bCol).as("_src"), col(aCol).as("_dst")))
      .persistTracked
    // checkpoint (not persist): each round references the label
    // frame twice, so a lineage-preserving cache would DOUBLE the plan
    // tree per round — exponential plan growth that OOMs the driver on
    // high-diameter graphs. The cut truncates the plan to a scan of
    // the materialized blocks. Once round N's count has materialized
    // it, round N−1's cut is freed; only the RESULT-backing cut
    // survives the call (see [[OpCache.Checkpoints]]) — after the
    // caller's release the returned frame is dead (no recompute path).
    var labels = ck.cut(vertices.select(col(idCol).as("v"), col(idCol).as("comp")))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("v").as("_src"), col("comp")), "_src")
        .groupBy(col("_dst").as("v"))
        .agg(min(col("comp")).as("_nmin"))
      val next = ck.cut(labels
        .join(neighborMin, Seq("v"), "left")
        .select(col("v"), least(col("comp"), coalesce(col("_nmin"), col("comp"))).as("comp"),
          col("comp").as("_old")))
      changed = next.filter(col("comp") =!= col("_old")).count()
      ck.settle()
      labels = next.drop("_old")
      iter += 1
    }
    edges.unpersist()
    if (changed > 0 && requireConvergence) {
      ck.free()
      throw new IllegalStateException(
        s"components() did not converge in $maxIter rounds ($changed labels still " +
          "changing — graph diameter exceeds maxIter). Raise maxIter or use " +
          "componentsStar (O(log n) rounds on any diameter).")
    }
    ck.keep()
    labels
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
    * Components in MapReduce and Beyond", SoCC'14): same contract as
    * [[components]] — (`v`, `comp` = min reachable id) — but O(log n)
    * rounds on ANY graph, including the adversarial long-chain shapes
    * (boilerplate-document chains) where min-label propagation needs
    * diameter rounds. This is the default for untrusted edge sets.
    *
    * Each round rewires the edge set toward stars rooted at component
    * minima, preserving connectivity:
    *  - large-star (per node u, m = min(N(u) ∪ {u})): every neighbor
    *    v > u re-attaches to m — emit (v, m);
    *  - small-star (on edges directed high→low, m = min(N⁻(u) ∪ {u})):
    *    u and its smaller neighbors all attach to m.
    * Per-node minima are computed as `groupBy(u).agg(min(v))` and
    * joined back on u — NOT as `min().over(Window.partitionBy(u))`.
    * The distinction is the whole 100 TB story: near-dup graphs
    * converge TO stars, so the root of a mega duplicate cluster
    * (empty docs, boilerplate) ends up with degree = cluster size. A
    * per-key window ships that entire neighborhood to ONE task with
    * no partial aggregation and no skew mitigation; the groupBy is
    * map-side combinable (the hot key reduces to one partial row per
    * input partition before the exchange). The JOIN BACK needs its own
    * skew treatment — measured (SkewBench, PERF.md round 8): AQE's
    * skew-join never splits it, because the aggregate's exchange
    * already satisfies the join's distribution requirement, so the
    * mins side fuses into the join stage and OptimizeSkewedJoin's
    * two-shuffle-stage pattern never matches. The rounds therefore
    * split the re-attach by degree (known for free from the same
    * partial agg): keys at or above `hotDegree` have their minima
    * BROADCAST and joined map-side — the hot key's rows never ride a
    * shuffle at all — while the residual cold join carries only keys
    * of bounded degree. The split is engaged PER ROUND only when a hot
    * key is possible: max degree ≤ 2·|edges|, and the round count is
    * already on the driver from the convergence fingerprint, so rounds
    * over graphs (or converged remnants) too small to contain a hot
    * key run the plain join with zero broadcast-build barriers — the
    * toy-scale/cluster-scale trade costs nothing where it can't pay
    * off. Still two exchanges per star op, all on
    * integer keys. The fixed point is the star set {(v, root)};
    * labels fall out as a left join of vertices onto it (vertices
    * absent from any edge are their own component).
    *
    * Convergence is detected from a per-round edge-set fingerprint
    * (count + bit_xor of xxhash64(u, v) — one scalar row to the driver
    * per round); the star fixed point is reached when a full round
    * leaves the fingerprint unchanged. XOR is order-independent and
    * CANNOT overflow (a sum of hashes overflows LongType and throws
    * under ANSI mode), and XOR-cancellation is safe because the edge
    * set is `distinct()` each round — no value appears twice.
    * maxIter is a backstop only: 60 rounds
    * covers any graph that fits in 2⁶⁰ edges (the paper's bound is
    * O(log n) with small constants; the 1000-vertex path converges in
    * ~6 rounds — spec-tested).
    *
    * @param hotDegree keys with degree ≥ this broadcast their minima
    *        in the round join-backs (see [[HotDegree]]); raise it on
    *        graphs where the hot set could outgrow the driver
    */
  def componentsStar(
      vertices: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 60,
      hotDegree: Long = HotDegree): DataFrame = {
    // ONE job per round, not two: the cut is LAZY and the round's
    // fingerprint aggregate is the action that materializes it (the
    // local checkpoint persists partitions as the job computes them,
    // then truncates lineage — same blocks, same semantics, minus a
    // whole materialization barrier per round; on short graphs the
    // per-job constant IS the runtime)
    val ck = OpCache.checkpoints(vertices.sparkSession)

    def fingerprint(edges: DataFrame): (Long, Long) = {
      val r = edges.agg(
        count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h")).head()
      (r.getLong(0), r.getLong(1))
    }

    var edges = ck.cut(pairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct())
    var fp = fingerprint(edges)
    var iter = 0
    // emptiness is FREE from the fingerprint count — never a separate job
    var converged = fp._1 == 0L
    while (!converged && iter < maxIter) {
      // Per-round split decision, FREE from the fingerprint count: a
      // key's degree in any stage frame of the round below is at most
      // 4·|edges-at-round-start| (the symmetrize doubles rows once;
      // each star op emits ≤ 1 row per input row plus one per group —
      // and with the intermediate distinct dropped, the small-star
      // input can carry large-star's duplicates), so when
      // 4·count < hotDegree NO key can be hot anywhere in the round
      // and it runs plain joins — small/shrinking graphs skip every
      // broadcast-build barrier, while any round whose edge count
      // leaves a mega-star possible keeps the skew-safe split.
      val eff = if (fp._1 >= (hotDegree + 3) / 4) hotDegree else Long.MaxValue
      // The per-pair intermediate distinct (largeStarRound's) is
      // dropped — one fewer Exchange per round (guide §2.4): every
      // star op is a SET function applied row-wise — duplicate rows
      // produce duplicate outputs and never change a per-key min
      // (degree counts inflate, which only routes more keys through
      // the still-correct broadcast path) — so the round-end distinct
      // yields exactly the edge SET the distinct-per-op form produced
      // (SpineDedupRollupSpec's random-graph and 1000-path cases lock
      // the fixed point). Row growth is bounded: ≤ 1 output row per
      // input row per op plus one per group. (Batching TWO pairs per
      // fingerprint job was tried and measured SLOWER — under AQE
      // each exchange is its own query-stage job, so the per-round
      // fixed cost is exchange-count-bound, and batching only added
      // overshoot pairs past convergence.)
      val next = ck.cut(smallStarRaw(largeStarRaw(edges, eff), eff).distinct())
      val fpNext = fingerprint(next)
      // the fingerprint materialized `next`: round N−1 is dead weight
      ck.settle()
      edges = next
      converged = fpNext == fp
      fp = fpNext
      iter += 1
    }
    if (!converged) {
      ck.free()
      throw new IllegalStateException(
        s"componentsStar() fingerprint still moving after $maxIter rounds — " +
          "not reachable for any real edge set (bound is O(log n) rounds)")
    }
    // the fixed-point star set backs the returned frame: its blocks
    // live until the caller's pipeline-boundary OpCache.release()
    // (materialize/write the labels first, as Bench/Verify already do)
    ck.keep()
    // stars are (child u, root v): label = root where present, self for
    // roots and isolated vertices
    vertices.select(col(idCol).as("v"))
      .join(edges.select(col("u").as("v"), col("v").as("_root")), Seq("v"), "left")
      .select(col("v"), coalesce(col("_root"), col("v")).as("comp"))
  }

  /** Incremental connected components: fold a DELTA (new vertices +
    * new near-dup pairs, e.g. [[NearDup.incrementalNearDupPairs]]'s
    * output) into a STORED labeling without re-processing history.
    *
    * The stored labels are a 1-deep star forest (v → comp, comp =
    * component min-id) — exactly a converged [[componentsStar]]
    * state. Re-running the star rounds over (label edges ∪ delta
    * pairs) therefore (a) never touches the historical PAIR set — the
    * expensive LSH/verify output, |pairs| ≫ |V| — only the |V|-row
    * label table, and (b) starts CONVERGED everywhere the delta
    * didn't touch, so rounds are bounded by the delta's merge depth,
    * not the full graph's diameter. Labels stay global min-ids:
    * the union graph's connectivity equals the full graph's (old
    * components are collapsed stars; delta pairs add the only new
    * connectivity), so the fixed point is identical to a from-scratch
    * recompute — q105 gates that equality against q32's own oracle.
    */
  def componentsIncremental(
      labels: DataFrame,
      vCol: String,
      compCol: String,
      newVertices: DataFrame,
      newVCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 60): DataFrame = {
    val vertices = labels.select(col(vCol).as("v"))
      .union(newVertices.select(col(newVCol).as("v")))
      .distinct()
    val seedPairs = labels
      .select(col(vCol).as("id_a"), col(compCol).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .unionByName(pairs.select(col(aCol).as("id_a"), col(bCol).as("id_b")))
    componentsStar(vertices, "v", seedPairs, "id_a", "id_b", maxIter)
  }

  /** Degree at or above which a star-round key is HOT: its minimum is
    * broadcast instead of shuffle-joined. Worst-case broadcast size is
    * 2·|edges| / hotDegree rows of (long, long) — at 2⁶⁰ edges and the
    * default 2¹⁸ threshold that is ≤ 2⁴³ only in theory; in practice
    * near-dup graphs have a handful of mega-roots (the empty-document
    * cluster, boilerplate), and callers on trillion-edge graphs raise
    * the threshold to keep the hot set driver-sized.
    */
  private[graft] val HotDegree: Long = 1L << 18

  // Skew-safe re-attach of per-key minima: rows ⋈ mins on `u`, where
  // `mins` carries `_deg` (the key's degree) from the same partial
  // agg that computed the min — free. Hot keys (deg ≥ hotDegree) join
  // their minima via BROADCAST, so a degree-N root's N rows never
  // enter a shuffle; the broadcast anti-join peels those rows off the
  // cold path map-side, leaving a shuffle join in which every key has
  // degree < hotDegree (no single-task funnel). The same broadcast
  // subtree backs the inner and anti joins, so the exchange is built
  // once and reused. Plain `sym.join(mins, "u")` is NOT AQE-rescuable
  // here: the aggregate's exchange doubles as the join's distribution,
  // fusing the mins side into the join stage, and OptimizeSkewedJoin
  // only fires when both sides are re-readable shuffle stages.
  private def joinMinsSkewSafe(
      rows: DataFrame, mins: DataFrame, hotDegree: Long): DataFrame = {
    if (hotDegree == Long.MaxValue) {
      // no key can be hot (caller proved max degree < threshold from
      // the round's edge count) — the split machinery would only add
      // broadcast-build barriers, so fall back to the plain join
      rows.join(mins.drop("_deg"), Seq("u"))
    } else {
      val hot = mins.filter(col("_deg") >= hotDegree).drop("_deg")
      val cold = mins.filter(col("_deg") < hotDegree).drop("_deg")
      rows.join(broadcast(hot), Seq("u"))
        .unionByName(rows.join(broadcast(hot), Seq("u"), "left_anti")
          .join(cold, Seq("u")))
    }
  }

  // One large-star round: symmetrize, m = min over the full
  // neighborhood incl. u, re-attach strictly-larger neighbors to m.
  // m < v always (m ≤ u < v), so no self-loops. Neighborhood min via
  // partial-agg groupBy + skew-safe join back (see componentsStar
  // scaladoc — per-key windows and un-split hot-key joins are the
  // skew hazards this operator exists to avoid). Package-visible so
  // PlanShapeSpec can lock the no-Window shape per round.
  private[graft] def largeStarRound(
      edges: DataFrame, hotDegree: Long = HotDegree): DataFrame =
    largeStarRaw(edges, hotDegree).distinct()

  // distinct-free body: componentsStar batches two star pairs per
  // job with ONE distinct at batch end (set-identical — see the loop
  // comment); the public round keeps the distinct-per-op contract the
  // specs (PlanShapeSpec, SpineDedupRollupSpec) exercise.
  private def largeStarRaw(edges: DataFrame, hotDegree: Long): DataFrame = {
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u")
      .agg(min(col("v")).as("_nmin"), count(lit(1)).as("_deg"))
    joinMinsSkewSafe(sym, mins, hotDegree)
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), least(col("u"), col("_nmin")).as("v"))
  }

  // One small-star round: direct edges high→low (u > v), m = min of
  // the smaller neighborhood; attach u and every non-min smaller
  // neighbor to m. The (u, m) attachment comes straight from the
  // aggregate frame — one row per u, no need to emit it per edge and
  // distinct it away.
  private[graft] def smallStarRound(
      edges: DataFrame, hotDegree: Long = HotDegree): DataFrame =
    smallStarRaw(edges, hotDegree).distinct()

  private def smallStarRaw(edges: DataFrame, hotDegree: Long): DataFrame = {
    val dir = edges.select(
      greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val mins = dir.groupBy("u")
      .agg(min(col("v")).as("_m"), count(lit(1)).as("_deg"))
    joinMinsSkewSafe(dir, mins, hotDegree)
      .filter(col("v") =!= col("_m"))
      .select(col("v").as("u"), col("_m").as("v"))
      .union(mins.select(col("u"), col("_m").as("v")))
  }

  /** SUBSTRING-level exact dedup (training-data dedup à la Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better":
    * find document pairs sharing an exact run of ≥ `windowTokens`
    * tokens). Token-window inverted index: every document emits its
    * distinct `windowTokens`-gram windows (reuses [[NearDup.shingles]]),
    * windows are hashed to 8-byte keys, and pairs fall out of a
    * self-equi-join on the window hash. Returns (id_a < id_b,
    * shared_windows) — a shared contiguous span of L tokens shows up as
    * L − windowTokens + 1 shared windows, so `shared_windows` is a
    * direct proxy for overlap length.
    *
    * 100 TB shape: the join key is an 8-byte hash (not the ~10·W-byte
    * window string), and BOILERPLATE windows — the classic quadratic
    * hazard (a license header shared by 10⁶ docs would emit 10¹² pairs)
    * — are dropped by the document-frequency cap: only windows with
    * 2 ≤ df ≤ `maxDf` generate pairs, bounding per-bucket fan-out at
    * maxDf². The df itself is a partial-aggregated `groupBy(_wh)
    * .count()` — map-side combinable, so the boilerplate hash reduces
    * to one partial row per input partition instead of shipping every
    * (doc, window) row of a hot hash to one task (which is what a
    * `count().over(Window.partitionBy(_wh))` would do — the window
    * form computes df with zero extra exchanges but re-creates the
    * exact single-task hot key the cap exists to kill). The kept-hash
    * semi-join back is AQE-skew-splittable and its pathological left
    * partitions are pure drop-scans. Hash collisions
    * (two distinct windows with equal xxhash64) are the price of the
    * 8-byte key: P ≈ (#windows)²/2⁶⁵ — negligible (same argument as
    * the LSH band hash, Oracles.scala header).
    *
    * Documents shorter than `windowTokens` contribute their whole text
    * as one window ([[NearDup.shingles]] semantics) — short exact
    * duplicates still pair up.
    */
  def substringWindowPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      maxDf: Int): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    require(maxDf >= 2,
      s"maxDf must be >= 2 (a window needs df >= 2 to pair at all), got $maxDf")
    // the shingle explode + hash is the heavy per-row stage — spread it
    // scale-adaptively (graft.core.Adaptive, guide §2.5): the local
    // single-split scan otherwise runs it in ONE task
    val wins = graft.core.Adaptive.spreadForCpu(
        df.select(col(idCol), col(textCol)), 64L << 10)
      .select(col(idCol).as("_id"),
        explode(NearDup.shingles(col(textCol), windowTokens)).as("_win"))
      .select(col("_id"), xxhash64(col("_win")).as("_wh"))
    val keptHashes = wins.groupBy("_wh")
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2 && col("_df") <= maxDf)
      .select("_wh")
    val kept = wins.join(keptHashes, Seq("_wh"), "left_semi")
    kept.select(col("_id").as("id_a"), col("_wh"))
      .join(kept.select(col("_id").as("id_b"), col("_wh")), Seq("_wh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_windows"))
  }

  /** Per-document duplicated-window ratio — the SUB-document
    * duplication diagnostic of Lee et al. 2022 ("what fraction of
    * each document's n-gram windows also occur in other documents?"):
    * the number that tells a curation team whether to dedup at
    * document, paragraph, or substring granularity, and which docs
    * are mostly boilerplate. Windows are the distinct
    * `windowTokens`-grams ([[NearDup.shingles]] semantics — short
    * docs contribute their whole text); a window is DUPLICATED when
    * ≥2 documents contain it.
    *
    * 100 TB shape (the [[substringWindowPairs]] discipline): windows
    * ride as 8-byte xxhash64 keys; the document frequency is a
    * partial-aggregated groupBy (a boilerplate window reduces to one
    * partial row per partition, never a hot single task); the
    * duplicated-set membership is an AQE-splittable semi-join; both
    * per-doc counts are map-side combinable.
    *
    * Output: (idCol, n_windows, dup_windows, dup_ratio 6-dp).
    */
  def duplicatedWindowRatio(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    val wins = graft.core.Adaptive.spreadForCpu(
        df.select(col(idCol), col(textCol)), 64L << 10)
      .select(col(idCol).as("_id"),
        explode(NearDup.shingles(col(textCol), windowTokens)).as("_win"))
      .select(col("_id"), xxhash64(col("_win")).as("_wh"))
    val dup = wins.groupBy("_wh").agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2).select("_wh")
    val perDoc = wins.groupBy("_id").agg(count(lit(1)).as("n_windows"))
    val dupPerDoc = wins.join(dup, Seq("_wh"), "left_semi")
      .groupBy("_id").agg(count(lit(1)).as("dup_windows"))
    perDoc.join(dupPerDoc, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        round(coalesce(col("dup_windows"), lit(0L)).cast("double") /
          col("n_windows").cast("double"), 6).as("dup_ratio"))
  }

  /** Benchmark-contamination scan (Brown et al. 2020 App. C / GPT-3
    * style n-gram overlap): flag corpus documents that contain any
    * exact `windowTokens`-token window occurring in a benchmark/eval
    * set. Returns (`idCol`, contaminated_windows = distinct matching
    * windows) for contaminated documents only.
    *
    * 100 TB shape: eval benchmarks are model-sized (MBs), so the
    * distinct benchmark window-hash set BROADCASTS — the corpus pass
    * is a map-side semi-join (no shuffle of corpus windows against
    * the benchmark), followed by one partial-aggregated groupBy on
    * the contaminated subset, which is tiny by construction. Windows
    * are compared via 8-byte xxhash64 keys (collision argument as in
    * [[substringWindowPairs]]).
    */
  def contamination(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchTextCol: String,
      windowTokens: Int): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    val benchWins = benchmark
      .select(explode(NearDup.shingles(col(benchTextCol), windowTokens)).as("_win"))
      .select(xxhash64(col("_win")).as("_wh"))
      .distinct()
    corpus
      .select(col(idCol), explode(NearDup.shingles(col(textCol), windowTokens)).as("_win"))
      .select(col(idCol), xxhash64(col("_win")).as("_wh"))
      .join(broadcast(benchWins), Seq("_wh"), "left_semi")
      .groupBy(idCol)
      // shingles are distinct per document, so a plain count IS the
      // distinct-window count — no count_distinct expand needed
      .agg(count(lit(1)).as("contaminated_windows"))
  }

  /** Eval-set novelty probe — [[contamination]] pointed the other way:
    * for every BENCHMARK document, what fraction of its
    * `windowTokens`-token windows occurs anywhere in the training
    * corpus? This is the per-eval-example "dirty vs clean" report the
    * GPT-3/PaLM appendices publish (and the memorization-risk signal
    * of Lee et al. 2022 §5): novelty 0 means the example is verbatim
    * in training data; a clean flag gates which eval rows may be
    * scored at all.
    *
    * 100 TB shape: the benchmark is model-sized, so its distinct
    * window-hash set BROADCASTS into a map-side semi-join over the
    * corpus window stream — the corpus shuffles NOTHING; the
    * surviving matched-hash set is ≤ benchmark-sized by construction
    * and broadcasts back onto the benchmark windows for the per-doc
    * rollup. Windows ride 8-byte xxhash64 keys (collision argument
    * as in [[substringWindowPairs]]).
    */
  def evalNovelty(
      corpus: DataFrame,
      textCol: String,
      benchmark: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      windowTokens: Int): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    val benchWins = benchmark
      .select(col(benchIdCol),
        explode(NearDup.shingles(col(benchTextCol), windowTokens)).as("_win"))
      .select(col(benchIdCol), xxhash64(col("_win")).as("_wh"))
    val benchSet = benchWins.select("_wh").distinct()
    // corpus pass: map-side semi-join against the broadcast benchmark
    // set; the distinct matched set is ≤ |benchSet|
    val seen = corpus
      .select(explode(NearDup.shingles(col(textCol), windowTokens)).as("_win"))
      .select(xxhash64(col("_win")).as("_wh"))
      .join(broadcast(benchSet), Seq("_wh"), "left_semi")
      .distinct()
      .withColumn("_seen", lit(1L))
    benchWins.join(broadcast(seen), Seq("_wh"), "left")
      .groupBy(benchIdCol)
      // shingles are distinct per document: count(*) IS the distinct
      // window count
      .agg(count(lit(1)).as("n_windows"),
        coalesce(sum(col("_seen")), lit(0L)).as("seen_windows"))
      .withColumn("novelty",
        round(lit(1.0) - col("seen_windows").cast("double")
          / col("n_windows").cast("double"), 6))
      .withColumn("clean", col("seen_windows") === 0L)
  }

  /** Exact content dedup by hash (LLM-pipeline): one row per distinct
    * `sha2(contentCol)`, first by `order`. The hash groupBy shuffles on
    * the 64-hex digest — uniformly distributed, so no skew at 100 TB;
    * identical documents land on one reducer regardless of count
    * (pathological mono-duplicate corpora would need a pre-aggregation
    * by (hash, partition) first, which `row_number` here avoids by
    * being a single pass).
    */
  def exactByHash(
      df: DataFrame,
      contentCol: String,
      order: Seq[Column]): DataFrame =
    firstWins(
      df.withColumn("_h", sha2(col(contentCol), 256)),
      Seq("_h"), order).drop("_h")

  /** Corpus snapshot diff — the versioning primitive a periodically
    * re-crawled training corpus needs: classify every id across two
    * snapshots as added / removed / changed / unchanged by CONTENT,
    * not by row identity.
    *
    * Scale shape: each side is first reduced map-side to
    * (id, 32-byte sha256) — the full-outer join never carries document
    * bodies, so at 100 TB it shuffles two digest tables (≈40 bytes/row)
    * hash-partitioned on id; AQE handles size asymmetry between
    * snapshots. Output is one row per id in either snapshot.
    */
  def corpusDiff(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      idCol: String,
      contentCol: String): DataFrame = {
    val o = oldSnap.select(col(idCol), sha2(col(contentCol), 256).as("_ho"))
    val n = newSnap.select(col(idCol), sha2(col(contentCol), 256).as("_hn"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("_ho").isNull, "added")
          .when(col("_hn").isNull, "removed")
          .when(col("_ho") === col("_hn"), "unchanged")
          .otherwise("changed").as("status"))
  }
}
