package graft.operators

import graft.core.OpCache
import graft.core.OpCache.TrackedPersist
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integer-exact PageRank (Page/Brin/Motwani/Winograd, "The PageRank
  * Citation Ranking", Stanford 1999) — authority scoring over
  * data-derived graphs (near-dup clusters picking a canonical doc,
  * interaction graphs weighting users, domain graphs weighting
  * crawl sources).
  *
  * Why integer-exact: the float recurrence is not portable — sum
  * order changes the low bits, so a float rank can never ride a
  * bit-exact oracle gate, and ties break differently run to run. This
  * operator runs the entire recurrence in scaled BIGINT arithmetic
  * (truncating division, everything non-negative so trunc = floor in
  * every engine):
  *
  *     R_0(v)     = scale
  *     base       = (15 * scale) div 100
  *     R_{k+1}(v) = base + (85 * Σ_{u→v} (R_k(u) div outdeg(u))) div 100
  *
  * which is deterministic under ANY partitioning/merge order (integer
  * addition is associative-commutative) and replayable in ANSI SQL —
  * the oracle unrolls the same recurrence with `//`.
  *
  * Overflow headroom: each term ≤ scale, so the sum at a hub of
  * in-degree d is ≤ d·scale and the 85× product needs
  * 85·d·scale < 2^63 — at the default scale 10^12 that allows hubs of
  * in-degree ~10^5. For web-scale graphs with mega-hubs, pass
  * scale = 10^9 (headroom 10^8) — precision is still 9 digits.
  *
  * Execution shape at 100 TB: per iteration, ONE shuffle of the rank
  * frame to the edge partitioning (join on src) and one partial-agg
  * groupBy(dst) — edges themselves are deduped, pre-projected to two
  * longs, and persisted ONCE across all K iterations. Every
  * `checkpointEvery` rounds the rank frame is eagerly checkpointed
  * (lineage would otherwise grow K joins deep — the
  * straggler/recompute killer on clusters) and the previous cut is
  * freed as soon as the next materializes ([[OpCache.Checkpoints]]).
  * Dangling vertices (outdeg 0) simply contribute nothing; vertices
  * with no in-edges hold rank `base` from iteration 1 on.
  *
  * @param edges directed edge list; duplicate edges and self-loops
  *              are dropped (this is the unweighted-link semantics)
  * @return (vertex, rank_scaled BIGINT) — rank ≈ rank_scaled / scale
  */
object PageRank {

  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5,
      scale: Long = 1000000000000L,
      checkpointEvery: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(scale >= 100L, s"scale must be >= 100, got $scale")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    graft.core.Exact.requireAnsi(edges.sparkSession, "PageRank.pageRank")
    val ck = OpCache.checkpoints(edges.sparkSession)

    // canonical edge set: project to two longs, drop dup edges and
    // self-loops. persistTracked (released at the caller's pipeline
    // boundary) — the edge-derivation plan upstream (q98's lag
    // window, a crawl join, …) must run ONCE, not once per derived
    // frame. NO eager counts: the loop state below materializes
    // lazily inside the first checkpoint's job — zero extra jobs,
    // which on short iterative queries is the dominant constant.
    val e = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
      .persistTracked
    // loop state, built once and reused K times:
    //  - out-degree FOLDED INTO the edge rows (joining a separate
    //    outdeg frame every round would re-shuffle edges K times)
    //  - clustered + sorted by u, so each round's rank join reuses
    //    the cached sort order and only the (small) rank frame moves
    //  - vertices clustered by v, co-partitioned with the per-round
    //    contribution aggregate
    val eDeg = e
      .join(e.groupBy("u").agg(count(lit(1)).as("_deg")), Seq("u"))
      .repartition(col("u")).sortWithinPartitions("u")
      .persistTracked
    val vertices = e.select(col("u").as("v")).union(e.select("v")).distinct()

    val base = 15L * scale / 100L
    // Vertices with NO in-edge hold rank `base` from iteration 1 on
    // and receive no contribution row in any round — a CONSTANT frame.
    // Precomputing it once turns the per-round
    // `vertices LEFT JOIN contribs` (one exchange per round to bring
    // the vertex table to the aggregate's partitioning) into a plain
    // UNION (zero exchanges): contribs already carries exactly one row
    // per vertex with ≥ 1 in-edge every round (e is deduped and static,
    // and rank ≥ base > 0 keeps every source row present), so
    // union(noInRanks) is row-identical to the left join
    // (PageRankSpec's replay property locks it). Guide §2.4 — remove
    // the shuffle outright.
    val noInRanks = e.select(col("u").as("v"))
      .join(e.select(col("v")), Seq("v"), "left_anti")
      .distinct()
      .select(col("v"), lit(base).as("rank_scaled"))
      .persistTracked
    var ranks = vertices.select(col("v"), lit(scale).as("rank_scaled"))
    var sinceCp = 0
    var iter = 0
    while (iter < iterations) {
      // contribution shuffle: ranks → the cached edge clustering
      // (join on u), then partial-agg sum per dst — per round, only
      // rank-frame-sized data moves.
      // `div`, never `/`: Spark's `/` on longs is DOUBLE division —
      // exact only below 2^53, and hub ranks reach deg·scale. `div`
      // is true 64-bit integer division; under ANSI mode the 85×
      // product throws on overflow instead of wrapping (the
      // IncrementalAgg overflow contract: fail loudly, pick a
      // smaller `scale`).
      val contribs = eDeg
        .join(ranks.withColumnRenamed("v", "u"), Seq("u"))
        .select(col("v"), expr("rank_scaled div _deg").as("_c"))
        .groupBy("v").agg(sum(col("_c")).as("_in"))
      val nextPlan = contribs
        .select(col("v"),
          expr(s"${base}L + (85L * _in) div 100L").as("rank_scaled"))
        .unionByName(noInRanks)
      iter += 1
      sinceCp += 1
      // checkpoint on a cadence, not per round: a few rounds of
      // lineage are cheap to recompute, a per-round eager cp is a
      // per-round materialization barrier. The LAST round always
      // checkpoints (the returned frame must not recompute through
      // freed interior state).
      if (sinceCp >= checkpointEvery || iter == iterations) {
        ranks = ck.cutEager(nextPlan)
        ck.settle()
        sinceCp = 0
      } else ranks = nextPlan
    }
    // the final round's blocks back the returned frame — caller frees
    // them via the pipeline-boundary OpCache.release()
    ck.keep()
    ranks
  }
}
