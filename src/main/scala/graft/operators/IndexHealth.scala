package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MANIFEST-HEALTH report + growth guard for the stored-index tier
  * (VERDICT r19 item 2) — the "should I compact?" signal a 100 TB
  * operator needs between compactions.
  *
  * Why it exists: between compactions, serving cost grows with the
  * commit manifest in two concrete ways —
  *
  *  1. the committed-slice filter is an `isin` LITERAL LIST with one
  *     UUID per append/delete since the last compaction
  *     (`n_committed_slices` below): a year of hourly crawl batches
  *     is ~9k literals in EVERY serve plan;
  *  2. the tombstone supersede broadcasts one (id, max-gen) row per
  *     re-ingested or deleted id (`n_tombstoned_ids` below,
  *     `est_broadcast_bytes` its ~24 B/row driver+executor
  *     footprint): a heavy re-crawl makes that broadcast
  *     corpus-fraction-sized.
  *
  * Both counters reset to zero when the index is compacted
  * (`Retrieval.compactInvertedIndex` / `compactPositionalIndex` /
  * `Similarity.compactIvfPqIndex` / `compactPqIndex`) — compaction
  * folds the manifest away. [[report]] reads NOTHING corpus-sized:
  * one aggregate over the manifest (itself cumulative-append-sized),
  * zeros for an index that has never seen an append. [[requireHealthy]]
  * is the loud-guard companion (the `Repetition.maxLines` precedent,
  * r18): default bounds are ∞ (no behavior change); an ingest loop
  * passes its own bounds and gets an IllegalStateException naming
  * the counts and the compactor to run, instead of a serve plan that
  * silently degrades.
  *
  * Both manifest layouts are supported — lexical/positional
  * (`id, gen, slice, batch_key`) and ANN (`neighbor_id, ...`); the
  * id column is auto-detected. The manifest itself — its layout,
  * commit protocol and serve-side filters — is [[IndexManifest]].
  * Generation 0 never appears in a manifest (base rows are never
  * tombstoned), so every row counts.
  */
object IndexHealth {

  /** Estimated serve-side broadcast bytes per tombstoned id: one
    * (id, max-gen) row ≈ 8 B id + 8 B gen + ~8 B row overhead. An
    * ESTIMATE for capacity planning (string ids weigh more), kept a
    * documented constant so the report is oracle-replayable.
    */
  val BytesPerTombstonedId = 24L

  /** ONE row: (n_generations, max_gen, n_committed_slices,
    * n_tombstone_rows, n_tombstoned_ids, est_broadcast_bytes) — all
    * BIGINT, all zeros for an index with no manifest (never appended,
    * or freshly compacted).
    */
  def report(spark: SparkSession, path: String): DataFrame =
    IndexManifest.read(spark, path).map { t =>
      val idCol = IndexManifest.idColumn(t)
      t.agg(
        count_distinct(col("gen")).as("n_generations"),
        coalesce(max(col("gen")), lit(0L)).as("max_gen"),
        count_distinct(col("slice")).as("n_committed_slices"),
        count(lit(1)).as("n_tombstone_rows"),
        count_distinct(col(idCol)).as("n_tombstoned_ids"))
        .withColumn("est_broadcast_bytes",
          col("n_tombstoned_ids") * lit(BytesPerTombstonedId))
    }.getOrElse(
      spark.range(1).select(
        lit(0L).as("n_generations"), lit(0L).as("max_gen"),
        lit(0L).as("n_committed_slices"), lit(0L).as("n_tombstone_rows"),
        lit(0L).as("n_tombstoned_ids"), lit(0L).as("est_broadcast_bytes")))

  /** Loud growth guard: raise if the committed-slice literal list or
    * the tombstone broadcast exceeds the caller's bound — run it in
    * an ingest loop (once per append batch; the read is
    * manifest-sized) so the "compact me" signal fires as an error
    * with numbers, not as a slowly degrading serve plan.
    */
  def requireHealthy(spark: SparkSession, path: String,
      maxCommittedSlices: Long = Long.MaxValue,
      maxTombstonedIds: Long = Long.MaxValue): Unit = {
    val r = report(spark, path).head()
    val slices = r.getAs[Long]("n_committed_slices")
    val ids = r.getAs[Long]("n_tombstoned_ids")
    if (slices > maxCommittedSlices || ids > maxTombstonedIds) {
      val what =
        (if (slices > maxCommittedSlices)
           Seq(s"$slices committed slices (bound $maxCommittedSlices — " +
             "one isin literal per slice in every serve plan)")
         else Seq.empty) ++
        (if (ids > maxTombstonedIds)
           Seq(s"$ids tombstoned ids (bound $maxTombstonedIds — ~" +
             s"${ids * BytesPerTombstonedId} B broadcast per serve)")
         else Seq.empty)
      throw new IllegalStateException(
        s"index manifest at $path needs compaction: " +
          s"${what.mkString("; ")}. Run the matching compactor " +
          "(compactInvertedIndex / compactPositionalIndex / " +
          "compactIvfPqIndex / compactPqIndex) to a fresh path and " +
          "flip the pointer.")
    }
  }
}
