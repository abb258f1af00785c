package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.OpCache.TrackedPersist

/** Near-duplicate detection for document corpora (LLM-pipeline
  * extension, SURVEY.md §2.5): word-shingle Jaccard as ground truth,
  * MinHash+LSH banding as the scale path, SimHash as the compact
  * fingerprint variant.
  *
  * Scale shape: the naive all-pairs Jaccard is O(N²) and impossible at
  * 100 TB. MinHash+LSH replaces it with (1) a linear signature pass,
  * (2) an equi-join on (band, band-hash) — one shuffle keyed by band
  * hash, candidate volume ∝ collision rate, and (3) exact verification
  * only on candidates. Skewed buckets (boilerplate shingles) are the
  * classic hazard — verification joins run under AQE skew handling,
  * and the band hash includes the band index so bands don't collide
  * with each other.
  */
object NearDup {

  /** The MinHash banding defaults (word 3-grams, 32 hashes, 8 bands):
    * a stored band index joins only deltas banded with the same three.
    */
  private[graft] val DefaultN = 3
  private[graft] val DefaultNumHashes = 32
  private[graft] val DefaultBands = 8

  /** LSH banding parameter analysis — the S-curve table behind every
    * (bands, rows) choice (Leskovec, Rajaraman & Ullman, "Mining of
    * Massive Datasets" ch. 3; the datasketch-style optimizer): for
    * each factorization b·r = `signatureSize`, the probability a pair
    * with Jaccard j shares ≥1 band is 1 − (1 − j^r)^b. The table
    * reports, per factorization, the catch probability at the target
    * threshold, the false-positive mass at `jLow`, the false-negative
    * mass at `jHigh`, and the S-curve midpoint (1/b)^(1/r) — what a
    * curation team reads to pick banding for a dedup campaign.
    *
    * Pure closed-form arithmetic on a |divisors|-row frame (driver
    * lists the factorizations; everything else is one projection) —
    * probabilities rounded 6 dp, engine-exact up to libm pow (margins
    * auditable: a handful of values).
    */
  def lshTuningTable(spark: org.apache.spark.sql.SparkSession,
      signatureSize: Int, jHigh: Double, jLow: Double): DataFrame = {
    require(signatureSize >= 1, s"signatureSize must be >= 1, got $signatureSize")
    require(jLow < jHigh, s"need jLow < jHigh, got $jLow >= $jHigh")
    import spark.implicits._
    val facts = (1 to signatureSize)
      .filter(signatureSize % _ == 0)
      .map(b => (b.toLong, (signatureSize / b).toLong))
      .toDF("bands", "rows_per_band")
    def catchP(j: Double) = round(
      lit(1.0) - pow(lit(1.0) - pow(lit(j), col("rows_per_band")), col("bands")), 6)
    facts.select(col("bands"), col("rows_per_band"),
      catchP(jHigh).as("p_catch_high"),
      catchP(jLow).as("p_catch_low"),
      round(pow(lit(1.0) / col("bands"), lit(1.0) / col("rows_per_band")), 6)
        .as("s_midpoint"))
  }

  /** Word n-gram shingles (distinct), from single-space tokens —
    * native kernel; [[shinglesHof]] is its executable spec.
    */
  def shingles(c: Column, n: Int): Column =
    graft.functions.ShingleExpressions.shingles(Text.tokens(c), n)

  /** Composable formulation of [[shingles]]. */
  def shinglesHof(c: Column, n: Int): Column = {
    val toks = Text.tokens(c)
    array_distinct(
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n))))))
  }

  /** Exact Jaccard similarity of two shingle arrays (assumed distinct)
    * — native kernel; [[jaccardHof]] is its executable spec.
    */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.ShingleExpressions.jaccard(a, b)

  /** Composable formulation of [[jaccard]]. */
  def jaccardHof(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      greatest(size(array_union(a, b)), lit(1)).cast("double")

  /** MinHash signature: `numHashes` independent permutations simulated
    * by seeding xxhash64 with the permutation index; signature element
    * j = min over shingles of xxhash64(j, shingle).
    *
    * IMPORTANT: pass a MATERIALIZED column (not the shingle-construction
    * expression) — the per-permutation `array_min(transform(...))`
    * references its input numHashes times, which re-evaluates a raw
    * expression that many times (30× slowdown observed) but is free on
    * a column reference.
    */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    graft.functions.HashExpressions.minhashSig(shingleCol, numHashes)

  /** HOF formulation of [[minhashSignature]] — kept as the executable
    * spec the native kernel is tested against.
    */
  def minhashSignatureHof(shingleCol: Column, numHashes: Int): Column =
    array(Seq.tabulate(numHashes) { j =>
      array_min(transform(shingleCol, s => xxhash64(lit(j), s)))
    }: _*)

  /** The (band, band_hash) array for a signature — ONE derivation
    * shared by every band producer ([[lshBands]], [[bandIndex]], the
    * operators' delta bands and [[graft.streaming.StreamingNearDup]]):
    * a stored index is only joinable if every future producer hashes
    * bands bit-identically.
    */
  private[graft] def bandHashes(sig: Column, bands: Int): Column = {
    val rowsPerBand = size(sig) / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(lit("band"), b,
        concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand))))
  }

  /** Explode a signature into `bands` band rows keyed by
    * (band index, hash of the band's rows) — the LSH bucketing step.
    * Input needs (`idCol`, `sigCol`).
    *
    * PRECONDITION: the signature length must be a multiple of `bands`
    * (`size(sig)/bands` uses integer division, so trailing elements of
    * an indivisible signature would be silently excluded from every
    * band). Every entry point that knows `numHashes` checks this
    * through [[requireInputs]].
    */
  def lshBands(df: DataFrame, idCol: String, sigCol: String, bands: Int): DataFrame =
    explodeBands(df, Seq(idCol), sigCol, bands)

  private def explodeBands(sigs: DataFrame, keep: Seq[String], sigCol: String,
      bands: Int): DataFrame =
    sigs.select(keep.map(col) :+
      posexplode(bandHashes(col(sigCol), bands)).as(Seq("band", "band_hash")): _*)

  /** (`keep`…, `_sig`): the MinHash signature of `shingleCol`. */
  private def signatures(df: DataFrame, keep: Seq[String], shingleCol: Column,
      numHashes: Int): DataFrame =
    df.select(keep.map(col) :+ minhashSignature(shingleCol, numHashes).as("_sig"): _*)

  /** The band derivation of every MinHash producer: a shingle column
    * → (`keep`…, band, band_hash) rows, `keep` carried through (the
    * id first; the stream also carries its event time and text).
    *
    * The signature is a projected column before the explode (the
    * generator rule in graft.functions.Kernel's scaladoc): band
    * slicing inside the generator lambda references its input three
    * times and runs once per band, so a shingle→minhash chain inlined
    * there is recomputed ~×bands·3; projecting the full band ARRAY
    * instead is no better — InferFiltersFromGenerate clones the
    * defining expression into a size()>0 pre-filter. Projecting
    * `_sig` keeps the hashing at exactly once per row (measured 8×
    * faster than either on the stream).
    */
  private[graft] def bandRows(df: DataFrame, keep: Seq[String], shingleCol: Column,
      numHashes: Int, bands: Int): DataFrame =
    explodeBands(signatures(df, keep, shingleCol, numHashes), keep, "_sig", bands)

  /** The stored LSH band index (idCol, band, band_hash), ~bands × 16
    * bytes per document, that [[incrementalNearDupPairs]] and
    * [[graft.streaming.StreamingNearDup.againstIndex]] join their delta
    * bands against — built by the same derivation as those bands.
    */
  def bandIndex(df: DataFrame, idCol: String, textCol: String, n: Int = DefaultN,
      numHashes: Int = DefaultNumHashes, bands: Int = DefaultBands): DataFrame = {
    requireInputs("NearDup.bandIndex", n, numHashes, bands)
    bandRows(df, Seq(idCol), shingles(col(textCol), n), numHashes, bands)
  }

  /** The stored VERIFICATION-side table written beside a band index:
    * (idCol, shingles). A continuous near-dup deployment stores this
    * at ingest so no later batch or micro-batch ever re-shingles
    * history text — see [[graft.streaming.StreamingNearDup
    * .againstIndex]]'s `historyShingles` and the storage-for-scan
    * trade documented on [[incrementalNearDupPairs]].
    */
  def shingleTable(df: DataFrame, idCol: String, textCol: String,
      n: Int = DefaultN): DataFrame = {
    requireInputs("NearDup.shingleTable", n)
    df.select(col(idCol), shingles(col(textCol), n).as("shingles"))
  }

  /** The input contract every banded near-dup entry point `op` checks
    * first. Outside it, n = 0 shingles every document to "" (every
    * pair verifies at 1.0), no hashes put every document in one
    * bucket, bands that do not divide numHashes drop signature
    * elements (see [[lshBands]]) and a NaN or > 1 threshold matches
    * nothing. An entry point without banding or a threshold keeps that
    * default, which passes.
    */
  private[graft] def requireInputs(op: String, n: Int,
      numHashes: Int = DefaultNumHashes, bands: Int = DefaultBands,
      threshold: Double = 1.0): Unit = {
    require(n >= 1, s"$op: n must be >= 1, got $n")
    require(numHashes >= 1, s"$op: numHashes must be >= 1, got $numHashes")
    require(bands >= 1, s"$op: bands must be >= 1, got $bands")
    require(numHashes % bands == 0,
      s"$op: numHashes ($numHashes) must be a multiple of bands ($bands)")
    require(threshold > 0 && threshold <= 1,
      s"$op: threshold must be in (0, 1], got $threshold")
  }

  /** The shingle stage: (idCol, `_sh`), materialized once. Shingling
    * is the expensive projection and feeds several subtrees (both
    * sides of the band self-join via the signature, both sides of the
    * verification join); Spark's plan reuse does not cover
    * differently-aliased self-join inputs. Spread scale-adaptively
    * first (graft.core.Adaptive, guide §2.5): on a single-split local
    * scan the stage otherwise materializes in ONE task that every
    * consumer job serializes on (measured ~0.9 s × 4 concurrent jobs
    * on q169's sibling path).
    */
  private def shingleStage(df: DataFrame, idCol: String, textCol: String, n: Int,
      bytesPerTask: Long = 64L << 10): DataFrame =
    graft.core.Adaptive.spreadForCpu(df, bytesPerTask)
      .select(col(idCol), shingles(col(textCol), n).as("_sh"))
      .persistTracked

  /** Candidate pairs of a band table: documents sharing any
    * (band, `key`) bucket, as distinct (id_a < id_b) pairs. One
    * self-equi-join on the band key — shuffle ∝ band rows, not N².
    * `key` is `band_hash` for MinHash bands and the dHash block value
    * in [[PerceptualHash.nearDupPairs]].
    */
  private[operators] def bandSelfJoin(rows: DataFrame, idCol: String,
      key: String): DataFrame = {
    def side(id: String) = rows.select(col(idCol).as(id), col("band"), col(key))
    side("id_a").join(side("id_b"), Seq("band", key))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** The exact verify: candidate pairs (`a`, `b`) joined back to their
    * shingle arrays — `a` from `shA`, `b` from `shB`, both (idCol,
    * `_sh`) frames — kept at Jaccard ≥ threshold as (a, b, jaccard).
    */
  private def verifyJaccard(cands: DataFrame, idCol: String, threshold: Double,
      shA: DataFrame, shB: DataFrame, a: String = "id_a",
      b: String = "id_b"): DataFrame =
    cands
      .join(shA.select(col(idCol).as(a), col("_sh").as("_sha")), a)
      .join(shB.select(col(idCol).as(b), col("_sh").as("_shb")), b)
      .withColumn("jaccard", jaccard(col("_sha"), col("_shb")))
      .filter(col("jaccard") >= threshold)
      .select(col(a), col(b), col("jaccard"))

  /** Near-dup pairs with exact Jaccard ≥ threshold, verified only on
    * LSH candidates (the 100 TB shape). For oracle-checked exactness on
    * small data use an all-pairs Jaccard query instead.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = DefaultN, numHashes: Int = DefaultNumHashes,
      bands: Int = DefaultBands): DataFrame = {
    requireInputs("NearDup.nearDupPairs", n, numHashes, bands, threshold)
    val sh = shingleStage(df, idCol, textCol, n)
    val cands = bandSelfJoin(
      bandRows(sh, Seq(idCol), col("_sh"), numHashes, bands), idCol, "band_hash")
    verifyJaccard(cands, idCol, threshold, sh, sh)
  }

  /** [[nearDupPairs]] with a b-BIT MINHASH PREFILTER (Li & König,
    * "b-Bit Minwise Hashing", WWW 2010) between banding and exact
    * verification: each doc's k minhashes pack to k/64 longs (64×
    * smaller at b = 1), candidate pairs are first screened by the
    * unbiased 1-bit estimate Ĵ = 2m/k − 1 (XOR + popcount on two
    * slim words), and only survivors pay the exact set-intersection
    * verify. At 100 TB the verify join ships full shingle arrays to
    * every candidate — the prefilter kills the (overwhelmingly
    * dominant) false-candidate traffic with 16-byte signatures
    * instead.
    *
    * `estMargin` is the screening slack. The b = 1 estimate has
    * σ(Ĵ) = 2·sqrt(p(1−p)/k) ≤ 1/sqrt(k) (bit matches are
    * independent Bernoulli(p), p = (1+J)/2), so the DEFAULT margin
    * is derived as 4/sqrt(numHashes) — a true pair at the threshold
    * survives the screen unless its estimate errs by ≥ 4σ
    * (P < 4·10⁻⁵ per pair, one-sided). The screen is therefore
    * PROBABILISTIC, not absolute: the verified output equals the
    * brute-force pair set except with that per-pair probability.
    * When the derived (or caller-supplied) margin would make the
    * screen vacuous (threshold − margin ≤ 0) the screen is SKIPPED —
    * every banded candidate goes to exact verification and the
    * equality contract is unconditional. Pass an explicit
    * `estMargin` to trade screen selectivity against that tail
    * probability; `Double.NaN` (default) means "derive from k".
    */
  def bbitPrefilteredPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, estMargin: Double = Double.NaN, n: Int = DefaultN,
      numHashes: Int = 128, bands: Int = 32): DataFrame = {
    requireInputs("NearDup.bbitPrefilteredPairs", n, numHashes, bands, threshold)
    require(numHashes % 64 == 0,
      s"NearDup.bbitPrefilteredPairs: numHashes ($numHashes) must be a multiple of 64")
    val margin =
      if (estMargin.isNaN) 4.0 / math.sqrt(numHashes.toDouble) else estMargin
    // the signature frame feeds the bands and both screen join-backs
    val sh = shingleStage(df, idCol, textCol, n)
    val sigs = signatures(sh, Seq(idCol), col("_sh"), numHashes)
      .withColumn("_bb", graft.functions.HashExpressions.bbitPack(col("_sig")))
      .persistTracked
    val cands = bandSelfJoin(
      lshBands(sigs.select(col(idCol), col("_sig")), idCol, "_sig", bands),
      idCol, "band_hash")
    val screened = if (threshold - margin <= 0.0) cands else cands
      .join(sigs.select(col(idCol).as("id_a"), col("_bb").as("_bba")), "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("_bb").as("_bbb")), "id_b")
      .filter(graft.functions.HashExpressions.bbitEst(
        col("_bba"), col("_bbb"), numHashes) >= threshold - margin)
      .select("id_a", "id_b")
    verifyJaccard(screened, idCol, threshold, sh, sh)
  }

  /** CONTAINMENT near-dup pairs (asymmetric Jaccard): C(A in B) =
    * |A∩B| / |A| over distinct shingle sets — the signal symmetric
    * Jaccard MISSES when a short document is quoted inside a long one
    * (12 shared shingles / 50-shingle container → J ≈ 0.2 but
    * C = 1.0). Broder's containment formulation ("On the resemblance
    * and containment of documents", SEQUENCES 1997).
    *
    * Candidate generation cannot reuse MinHash-LSH banding: band
    * collision probability follows SYMMETRIC Jaccard, so exactly the
    * high-containment/low-Jaccard pairs this operator exists for
    * would be missed. Candidates instead come from PREFIX FILTERING
    * (Chaudhuri et al. ICDE 2006; Xiao et al. PPJoin WWW 2008): each
    * document is indexed by its ⌊(1−t)·|A|⌋+1 GLOBALLY-RAREST
    * shingles, and a pair is a candidate when either side's prefix
    * hits the other side's full set. COMPLETE BY CONSTRUCTION: if
    * none of A's prefix shingles is in B, then B misses more than
    * (1−t)·|A| of A's shingles, so C(A in B) < t — therefore the
    * verified output EQUALS the brute-force answer and the oracle
    * can be the all-pairs form.
    *
    * 100 TB shape: the inverted index shuffles 8-byte shingle hashes
    * (uniform keys); rarest-first prefix selection keeps boilerplate
    * hashes out of the index for any document that has rarer
    * alternatives, so per-key fan-out is prefix-occurrences ×
    * full-occurrences with the prefix side thin by construction; the
    * per-doc prefix sort is an array op bounded by shingles/doc;
    * verification joins shingle arrays back for the candidate-sized
    * pair set only.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = DefaultN): DataFrame = {
    requireInputs("NearDup.containmentPairs", n, threshold = threshold)
    val sh = shingleStage(df, idCol, textCol, n)
    val occ = sh.select(col(idCol),
        explode(col("_sh")).as("_s"))
      .select(col(idCol), xxhash64(col("_s")).as("_h"))
      .persistTracked
    val dfc = occ.groupBy("_h").agg(count(lit(1)).as("_df"))
    // per-doc rarest-first prefix: floor((1-t)*|A|) + 1 shingles
    val prefix = occ.join(dfc, "_h")
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("_df"), col("_h"))).as("_l"))
      .select(col(idCol),
        explode(slice(array_sort(col("_l")), lit(1),
          (floor(size(col("_l")).cast("double") * lit(1.0 - threshold)) + 1)
            .cast("int"))).as("_e"))
      .select(col(idCol).as("_pid"), col("_e._h").as("_h"))
    val cands = prefix
      .join(occ.select(col(idCol).as("_oid"), col("_h")), Seq("_h"))
      .filter(col("_pid") =!= col("_oid"))
      .select(least(col("_pid"), col("_oid")).as("id_a"),
        greatest(col("_pid"), col("_oid")).as("id_b"))
      .distinct()
    val inter = size(array_intersect(col("_sha"), col("_shb")))
    cands
      .join(sh.select(col(idCol).as("id_a"), col("_sh").as("_sha")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("_sh").as("_shb")), "id_b")
      .withColumn("c_a_in_b",
        inter.cast("double") / greatest(size(col("_sha")), lit(1)).cast("double"))
      .withColumn("c_b_in_a",
        inter.cast("double") / greatest(size(col("_shb")), lit(1)).cast("double"))
      .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= threshold)
      .withColumn("jaccard", jaccard(col("_sha"), col("_shb")))
      .select("id_a", "id_b", "c_a_in_b", "c_b_in_a", "jaccard")
  }

  /** Incremental near-dedup against a STORED band index — the q52
    * shape for NEAR duplicates: a new crawl batch must be checked for
    * near-dups against a 100 TB history WITHOUT re-shingling or
    * re-hashing that history. The stored state is the band table
    * ([[bandIndex]]: band, band_hash, id) — ~bands × 16 bytes per
    * historical doc, written once when each batch is ingested;
    * history TEXT is touched again only for verification, and only
    * for the (few) docs that actually collide with a delta band — a
    * semi-join pushes the candidate id set into the history scan.
    *
    * Emits all near-dup pairs INVOLVING the delta (delta×history and
    * delta×delta; history×history pairs were emitted when those
    * batches were ingested — the invariant that makes the incremental
    * union over batches equal the batch-over-everything pair set).
    * Also returns the delta's band rows: the caller appends them to
    * the stored index, completing the state update.
    *
    * RE-CRAWLED ids (present in both `bandState` and `delta`) are
    * SUPERSEDED: their stored bands describe the OLD content, so they
    * are excluded from candidate generation (an anti-join on the delta
    * id set — map-side when the delta broadcasts, which a crawl batch
    * against a 100 TB index always does) and every pair involving the
    * id is computed from the delta's current text. This also makes
    * `histPairs`/`deltaPairs` structurally disjoint — without it a
    * re-crawled doc near-dup with another delta doc is emitted TWICE,
    * once through its stale bands and once through the delta self-join.
    * The stale band rows stay in the caller's stored index after the
    * append (harmless: future collisions against them verify against
    * the history table's CURRENT text); periodic compaction (the q81
    * operator) prunes them.
    *
    * Shuffle budget: delta bands ⋈ stored bands is ONE equi-join on
    * (band, band_hash) — shuffle ∝ band rows; AQE splits hot buckets
    * (boilerplate bands are the classic skew case). Nothing rescans
    * or re-hashes history.
    */
  def incrementalNearDupPairs(
      bandState: DataFrame,
      historyText: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      n: Int = DefaultN,
      numHashes: Int = DefaultNumHashes,
      bands: Int = DefaultBands): (DataFrame, DataFrame) = {
    requireInputs("NearDup.incrementalNearDupPairs", n, numHashes, bands, threshold)
    // coarser bytes/task than the batch shingle sites: dSh is CACHED
    // and consumed by five later stages (sig/band build ×3, both
    // verify joins), so every cached partition costs five task
    // launches — at 64 KB/task a ~1 MB delta spread to full width
    // inflated q105's warm path 82 → 164 tasks for ~zero compute win
    // (+1.0 s measured); at 512 KB/task a small delta stays at a few
    // partitions while a GB-scale arrival still fans out to every core
    val dSh = shingleStage(delta, idCol, textCol, n, 512L << 10)
    val dBands = bandRows(dSh, Seq(idCol), col("_sh"), numHashes, bands)

    // delta × history candidates: one equi-join against the stored
    // index. Re-crawled ids' stale bands are superseded by the delta's
    // (see scaladoc) — the anti-join also subsumes the degenerate
    // self-collision of a re-crawled doc with its own stored bands.
    val liveState = bandState
      .join(delta.select(col(idCol)), Seq(idCol), "left_anti")
    val histCand = dBands.select(col(idCol).as("_did"), col("band"), col("band_hash"))
      .join(liveState.select(col(idCol).as("_hid"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .select("_did", "_hid").distinct()
    // delta × delta candidates: the batch-internal self-join (small side)
    val deltaCand = bandSelfJoin(dBands, idCol, "band_hash")

    // verify: history shingles recomputed ONLY for colliding ids —
    // the semi-join prunes the history scan to the candidate set
    val hSh = historyText
      .join(histCand.select(col("_hid").as(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol), shingles(col(textCol), n).as("_sh"))
    val histPairs = verifyJaccard(histCand, idCol, threshold, dSh, hSh, "_did", "_hid")
      .select(least(col("_did"), col("_hid")).as("id_a"),
        greatest(col("_did"), col("_hid")).as("id_b"), col("jaccard"))
    val deltaPairs = verifyJaccard(deltaCand, idCol, threshold, dSh, dSh)
    (histPairs.unionByName(deltaPairs), dBands)
  }

  /** 64-bit SimHash over tokens: bit b of the fingerprint is the sign
    * of Σ_tokens (±1 per token's hash bit b).
    */
  def simhash64(c: Column): Column =
    graft.functions.HashExpressions.simhash64(Text.tokens(c))

  /** 31-bit simhash whose token hash is the polynomial fingerprint
    * recurrence — bounded integer arithmetic, so the WHOLE fingerprint
    * is ANSI-SQL-expressible and oracle-checkable cross-engine.
    * Weaker bit mixing than [[simhash64]]; use that in production.
    */
  def simhashPoly(c: Column): Column =
    graft.functions.HashExpressions.simhashPoly(Text.tokens(c))

  /** HOF formulation of [[simhash64]] — the executable spec the native
    * kernel is tested against (recomputes each token hash per bit, so
    * it is 64× the hash work; never use on the hot path).
    */
  def simhash64Hof(c: Column): Column = {
    val toks = Text.tokens(c)
    val bitSums = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) => zip_with(
        acc,
        transform(sequence(lit(0), lit(63)), b =>
          when((call_function("shiftrightunsigned", xxhash64(t), b) % 2) =!= 0, 1L)
            .otherwise(-1L)),
        (a, x) => a + x))
    aggregate(
      zip_with(bitSums, sequence(lit(0), lit(63)),
        (s, b) => when(s > 0, call_function("shiftleft", lit(1L), b)).otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }
}
