package graft.streaming

import graft.operators.NearDup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of [[NearDup.incrementalNearDupPairs]]'s
  * delta×history path — the continuous-crawl deployment: documents
  * arrive on a stream and must be flagged against a STORED LSH band
  * index of the 100 TB history WITHOUT re-shingling that history.
  * (Delta×delta pairs are the batch operator's job at each index
  * ingest; the stream's contract is "is this new doc a near-dup of
  * anything already indexed".)
  *
  * Stream/state design:
  *  - shingle → minhash → band hashing is per-row projection work —
  *    stateless, map-side, no shuffle of the stream.
  *  - candidate generation is a stream-STATIC inner join on the
  *    8-byte (band, band_hash) key against the stored index. The
  *    delta bands come from the index builder's own derivation
  *    ([[NearDup.bandIndex]]) — a stored index is only joinable if
  *    every future producer hashes identically.
  *  - the only STATE is `dropDuplicatesWithinWatermark` on the
  *    candidate pair (two docs can collide in several bands; the pair
  *    must verify once): keyed by two 8-byte ids, expired by the
  *    watermark — bounded by candidates-per-horizon, not stream
  *    length.
  *  - verification joins the static history side and recomputes
  *    Jaccard exactly. The delta's TEXT rides through the band
  *    explode (×bands copies) and its shingles are recomputed only
  *    for band-colliding candidates — the price of single-pass
  *    streaming (a stream cannot re-join its own rows the way the
  *    batch operator re-joins its persisted shingle frame), paid as
  *    one small string per band row plus |candidates|-sized
  *    re-shingling rather than copying the whole shingle array per
  *    band row (which dominated the micro-batch). The static history
  *    side cannot be semi-join-pruned by stream contents (no dynamic
  *    filters across the stream-static boundary), so production
  *    keeps a precomputed SHINGLE table beside the band index — the
  *    `historyShingles` argument.
  *
  * Emission is in-batch (the pair dedup holds back only repeats), so
  * bounded runs skip the no-data flush batch. On a batch `delta`
  * degrades to the equivalent batch plan with `distinct()` in place
  * of watermark state — spec-tested equal.
  */
object StreamingNearDup {

  /** Near-dup pairs (id_a, id_b, jaccard) between stream documents
    * and the indexed history. `bandState`/`historyText` are static;
    * ids in the delta must be disjoint from indexed ids (re-crawl
    * superseding is the batch operator's territory — a stream cannot
    * anti-join itself against its own future).
    *
    * `historyShingles` — a precomputed
    * [[NearDup.shingleTable]]-shaped frame (idCol, shingles), stored
    * beside the band index — is the production verification side:
    * the static arm of a stream-static join re-evaluates EVERY
    * micro-batch, so a continuous deployment that passes raw
    * `historyText` re-shingles all of history once per batch; with
    * the stored table each batch re-reads model-free parquet instead.
    * When null, shingles are derived from `historyText` (the
    * convenience path for bounded runs and tests — spec'd equal).
    */
  def againstIndex(
      delta: DataFrame,
      bandState: DataFrame,
      historyText: DataFrame,
      idCol: String,
      tsCol: String,
      textCol: String,
      threshold: Double,
      n: Int = NearDup.DefaultN,
      numHashes: Int = NearDup.DefaultNumHashes,
      bands: Int = NearDup.DefaultBands,
      lateness: String = "1 day",
      historyShingles: DataFrame = null): DataFrame = {
    NearDup.requireInputs("StreamingNearDup.againstIndex", n, numHashes, bands, threshold)
    require(!bandState.isStreaming && !historyText.isStreaming,
      "bandState and historyText are the STORED side and must be batch frames")

    // ride the ONE text string through the ×bands explode, not the
    // ~hundreds-of-strings shingle array: a stream cannot re-join its
    // own rows, so SOME payload must ride to verification — but
    // copying the shingle array per band row dominated the whole
    // micro-batch (array-of-UTF8String churn ×bands ×|delta|), while
    // re-shingling only the band-COLLIDING candidates afterwards is
    // |candidates|-sized work
    def banded(df: DataFrame): DataFrame = NearDup.bandRows(
      df.select(col(idCol).as("_did"), col(tsCol), col(textCol).as("_tda")),
      Seq("_did", tsCol, "_tda"), NearDup.shingles(col("_tda"), n), numHashes, bands)

    def verified(cand: DataFrame): DataFrame = {
      val hSh =
        if (historyShingles != null)
          historyShingles.select(col(idCol).as("_hid2"),
            col("shingles").as("_shb"))
        else historyText.select(col(idCol).as("_hid2"),
          NearDup.shingles(col(textCol), n).as("_shb"))
      cand.join(hSh, col("_hid") === col("_hid2"))
        .withColumn("jaccard",
          NearDup.jaccard(NearDup.shingles(col("_tda"), n), col("_shb")))
        .filter(col("jaccard") >= threshold)
        .select(least(col("_did"), col("_hid")).as("id_a"),
          greatest(col("_did"), col("_hid")).as("id_b"), col("jaccard"))
    }

    val state = bandState.select(col(idCol).as("_hid"), col("band"), col("band_hash"))
    if (delta.isStreaming) {
      val cand = banded(delta.withWatermark(tsCol, lateness))
        .join(state, Seq("band", "band_hash"))
        .filter(col("_did") =!= col("_hid"))
        .dropDuplicatesWithinWatermark("_did", "_hid")
      verified(cand)
    } else {
      val cand = banded(delta)
        .join(state, Seq("band", "band_hash"))
        .filter(col("_did") =!= col("_hid"))
        // batch parity for the watermark pair-dedup: one row per pair,
        // deterministic representative (any text copy — all copies of
        // a pair carry the same text by construction)
        .groupBy("_did", "_hid")
        .agg(first(col("_tda")).as("_tda"))
      verified(cand)
    }
  }
}
