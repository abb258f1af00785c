package graft.operators

import graft.functions.{Text, TextExpressions}
import graft.core.OpCache.TrackedPersist
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 keyword retrieval over a document corpus — the ranking function
  * behind Lucene/Elasticsearch defaults (Robertson et al., Okapi at
  * TREC-3; the idf variant is Lucene's `log(1 + (N - df + 0.5) /
  * (df + 0.5))`, which stays positive for df > N/2).
  *
  * A training-data pipeline uses this for corpus curation queries
  * ("pull the top-k documents about X") and contamination forensics
  * ("which documents score highest against this benchmark prompt?").
  *
  * 100 TB shape — the scan path ([[bm25TopK]], [[bm25TopKBatch]]) is
  * deliberately inverted-index-free:
  *
  *  1. ONE map-side pass projects per-doc state: the token array, its
  *     length `dl`, and per-query-term term frequencies (the native
  *     `termTfs` kernel, one walk over the tokens — no explode, no
  *     per-term shuffle).
  *  2. ONE tiny mergeable aggregate (count / sum / per-term
  *     contains-counts — all algebraic, map-side combined) produces the
  *     corpus stats `N, total_len, df_t` as a SINGLE ROW, broadcast
  *     back. Cost is independent of vocabulary size: stats exist only
  *     for the handful of query terms, never for the corpus vocabulary
  *     (a vocabulary groupBy at 100 TB is the classic mistake this
  *     avoids — same argument as the Misra-Gries q70 design).
  *  3. Scoring is a pure projection (idf and avgdl come from the
  *     broadcast row), then a global top-k via TakeOrdered — per
  *     partition top-k then a k-row merge on the driver, never a
  *     global sort.
  *
  * Determinism/oracle parity: every reduction is over integers (token
  * counts, doc counts) so partial-merge order cannot change a bit; the
  * floating-point score is computed in ONE fixed expression-tree order
  * from those integers and rounded at 6dp before ranking; ties at the
  * rounded score break on the doc id.
  *
  * The stored-index rankers ([[writeInvertedIndex]] and its serves)
  * feed the same integers to the same scorer: both paths build one
  * `LexicalStats`, scored by one BM25 term formula and ranked by one
  * tail per output shape (single query: TakeOrdered; batch: grouped
  * bottom-k).
  */
object Retrieval {

  /** Top-k BM25 retrieval of `terms` over `docs(idCol, textCol)`.
    *
    * Score(d) = Σ_t idf(t) · (tf · (k1+1)) / (tf + k1·(1−b + b·dl/avgdl))
    * summed in the fixed order of `terms`; docs matching no term are
    * dropped; a repeated query term is rejected. Output: (idCol, dl,
    * score) ranked by (score desc, id).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    val s = scanStats(docs, idCol, textCol, terms)
    rankTopK(s, bm25Score(s, terms, k1, b, "bm25TopK"), idCol, k)(positive)
  }

  /** BATCH multi-query BM25: all `queries` scored in ONE corpus pass.
    * Per-query `bm25TopK` calls pay a full scan each — a curation
    * workload with hundreds of standing queries cannot afford Q scans
    * of 100 TB. Here the union of all query terms feeds one native
    * tf-vector kernel pass (O(dl + |terms|) per doc), the corpus
    * stats stay ONE mergeable row (df per distinct term), scoring is
    * a projection that fans each doc out to its Q (query_id, score)
    * pairs, and the per-query top-k is the MERGEABLE grouped bottom-k
    * (q110 machinery) on the negated 6-dp-scaled score — map-side
    * partials reduce every partition to ≤k rows per query, so the
    * one shuffle carries ≤ Q·k·partitions rows, never the corpus. No
    * window, no global sort.
    *
    * Scores are identical to [[bm25TopK]] on the same terms: same
    * Lucene idf, same fixed left-associative per-term sum, same 6-dp
    * round before ranking, ties on ascending id.
    *
    * The bottom-k pair key narrows the doc id to BIGINT, so the BATCH
    * retrievers require a numeric id column (enforced loudly below);
    * the single-query rankers preserve the native id type.
    *
    * Output: (query_id BIGINT, rank BIGINT, idCol BIGINT, score).
    */
  def bm25TopKBatch(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "each query needs at least one term")
    rankTopKBatch(scanStats(docs, idCol, textCol, queries.flatMap(_._2)),
      queries, idCol, k, k1, b, "bm25TopKBatch")
  }

  // ---------------------------------------------------------------
  // The one lexical scorer: both corpus paths (scan and stored index)
  // build a LexicalStats, and every ranker scores it through the same
  // term formula and one rank tail per output shape.
  // ---------------------------------------------------------------

  /** What every lexical ranker scores: a per-doc `frame` (doc id
    * column `id`, token-count column `dl`), per-term tf and df
    * accessors over the distinct `terms` (integer Columns: the float
    * arithmetic only ever sees the integers a full scan produces),
    * the corpus doc count `n` and total token length `len` as double
    * Columns, and — from a stored index only — the lazy per-term
    * collection frequencies the language-model ranker reads.
    */
  private final case class LexicalStats(frame: DataFrame, id: String,
      dl: String, terms: Seq[String], tf: Int => Column,
      df: Int => Column, n: Column, len: Column,
      cf: Option[() => Map[String, Long]])

  /** The scan path's [[LexicalStats]]: per-doc state in ONE token
    * pass — the tf VECTOR (term i → occurrences) comes from the native
    * single-scan kernel (graft_term_tfs: O(dl + T) per doc), not T
    * separate size(filter(...)) HOFs (O(dl · T) — each term re-walks
    * the whole token array), so cost stays flat as the query grows
    * from 3 to 100 terms — and ONE single-row stats aggregate of
    * mergeable integers (count, token sum, per-term doc counts)
    * broadcast back by a cross join.
    */
  private def scanStats(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String]): LexicalStats = {
    val terms = queryTerms.distinct
    val toks = docs.select(col(idCol), Text.tokens(col(textCol)).as("_toks"))
      .withColumn("_dl", size(col("_toks")).cast("long"))
      .withColumn("_tfs", TextExpressions.termTfs(col("_toks"), terms))
    def tf(i: Int): Column = element_at(col("_tfs"), i + 1)
    val statAggs: Seq[Column] =
      Seq(count(lit(1)).as("_n"), sum(col("_dl")).as("_len")) ++
        terms.indices.map { i =>
          sum(when(tf(i) > lit(0L), 1L).otherwise(0L)).as(s"_df$i")
        }
    val stats = toks.agg(statAggs.head, statAggs.tail: _*)
    LexicalStats(toks.crossJoin(broadcast(stats)), idCol, "_dl", terms,
      tf, i => col(s"_df$i"), col("_n").cast("double"),
      col("_len").cast("double"), None)
  }

  /** One BM25 term with Lucene's idf, every input a double Column.
    * The expression order is fixed: the oracle SQL replays it op for
    * op. */
  private def bm25Term(tf: Column, dfD: Column, nD: Column, avgdl: Column,
      dlD: Column, k1: Double, b: Double): Column = {
    val idf = log(lit(1.0) + (nD - dfD + lit(0.5)) / (dfD + lit(0.5)))
    when(tf > lit(0.0),
      (idf * (tf * (lit(k1) + lit(1.0)))) /
        (tf + lit(k1) * ((lit(1.0) - lit(b)) + lit(b) * (dlD / avgdl))))
      .otherwise(lit(0.0))
  }

  /** The slots of one query's terms in `s.terms`. A repeated query
    * term would be weighted twice, so every ranker rejects it here;
    * `fn` and the batch query id name the offender. */
  private def slots(s: LexicalStats, terms: Seq[String], fn: String,
      qid: Option[Long]): Seq[Int] = {
    val repeated = terms.diff(terms.distinct)
    require(repeated.isEmpty, s"$fn: ${qid.fold("the query")(q => s"query $q")} " +
      s"repeats term '${repeated.headOption.orNull}' — each query term " +
      "may appear once")
    terms.map(s.terms.indexOf)
  }

  /** BM25 score of one query: [[bm25Term]] per term, summed
    * left-associatively in the order of `terms` (the same tree as the
    * oracle SQL's `t0 + t1 + ...`). */
  private def bm25Score(s: LexicalStats, terms: Seq[String], k1: Double,
      b: Double, fn: String, qid: Option[Long] = None): Column = {
    val avgdl = s.len / s.n
    val dlD = col(s.dl).cast("double")
    slots(s, terms, fn, qid).map { i =>
      bm25Term(s.tf(i).cast("double"), s.df(i).cast("double"), s.n,
        avgdl, dlD, k1, b)
    }.reduce(_ + _)
  }

  /** The BM25 rankers' filter: docs matching no query term score 0. */
  private val positive: DataFrame => DataFrame =
    _.filter(col("score") > lit(0.0))

  /** The single-query rank tail: (idCol, dl, score rounded 6 dp),
    * `keep` applied to the rounded rows, then the global top-k by
    * (score desc, id) via TakeOrdered — per-partition top-k and a
    * k-row merge, never a global sort. Keeps the native id type. */
  private def rankTopK(s: LexicalStats, score: Column, idCol: String,
      k: Int)(keep: DataFrame => DataFrame): DataFrame =
    keep(s.frame.select(col(s.id).as(idCol), col(s.dl).as("dl"),
        round(score, 6).as("score")))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** The batch rank tail: each doc fans out to its Q (query_id,
    * 6-dp score) structs, and the per-query top-k is the mergeable
    * grouped bottom-k on the negated 6-dp-scaled score, keyed on a
    * BIGINT doc id (hence the numeric-id check). */
  private def rankTopKBatch(s: LexicalStats,
      queries: Seq[(Long, Seq[String])], idCol: String, k: Int,
      k1: Double, b: Double, fn: String): DataFrame = {
    requireNumericId(s.frame, s.id, fn)
    // generator input is an array over ALREADY-PROJECTED cheap
    // expressions (the tf vector is an attribute), so nothing
    // expensive re-inlines (the r13 generator-shape rule)
    val qStructs = queries.map { case (qid, terms) =>
      struct(lit(qid).as("q"),
        round(bm25Score(s, terms, k1, b, fn, Some(qid)), 6).as("s"))
    }
    s.frame
      .select(col(s.id), explode(array(qStructs: _*)).as("_e"))
      .filter(col("_e.s") > lit(0.0))
      .select(col("_e.q").as("query_id"),
        (-round(col("_e.s") * 1e6)).cast("long").as("_k"),
        col(s.id).cast("long").as("_id"))
      .groupBy("query_id")
      .agg(graft.functions.BottomK.bottomK(k)(col("_k"), col("_id")).as("_s"))
      .select(col("query_id"), posexplode(col("_s")))
      .select(col("query_id"), (col("pos") + 1L).cast("long").as("rank"),
        col("col._2").as(idCol),
        (-col("col._1").cast("double") / 1e6).as("score"))
  }

  /** The batch retrievers' bottom-k pair key is a BIGINT, so a
    * non-numeric id would silently cast to null — fail loudly
    * instead (ADVICE r18). */
  private def requireNumericId(df: DataFrame, idCol: String,
      fn: String): Unit = {
    val t = df.schema(idCol).dataType
    require(t.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$fn keys its mergeable bottom-k on a BIGINT doc id; column " +
        s"'$idCol' has type $t — cast it to a numeric id first (the " +
        "single-query rankers preserve the native id type)")
  }

  /** Per-document TF-IDF keyword extraction: the top-`k` terms of
    * each document by `tf × ln(N/df)` — the classic topic-tagging /
    * feature-extraction pass (Salton & Buckley 1988) a curation
    * pipeline uses to label documents and drive per-topic sampling.
    *
    * Unlike [[bm25TopK]] (a handful of query terms, vocabulary-free),
    * keyword extraction NEEDS the corpus document-frequency table —
    * but that table is vocabulary-sized, not corpus-sized, and both
    * aggregates are map-side combinable: per-doc tf is a groupBy on
    * (doc, token); df is a groupBy on token over the ALREADY
    * per-doc-distinct tf rows (no count_distinct Expand). The join
    * back to score is on the uniform token key; ranking windows
    * partition by doc — uniform too. Nothing funnels.
    *
    * Determinism: idf is `ln(N/df)` rounded to 9 dp (absorbing any
    * libm ulp drift), the score is the EXACT DECIMAL product
    * tf × idf₉ — ties rank by token, so cross-engine order is total.
    */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = df.select(col(idCol), explode(Text.tokens(col(textCol))).as("_t"))
    val tf = toks.groupBy(col(idCol), col("_t")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("_t").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("_n"))
    val scored = tf.join(dfc, "_t").crossJoin(broadcast(n))
      .withColumn("_idf9",
        round(log(col("_n").cast("double") / col("df").cast("double")), 9)
          .cast("decimal(18,9)"))
      .withColumn("_score", col("tf").cast("decimal(20,0)") * col("_idf9"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("_score").desc, col("_t"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("_t").as("token"),
        col("tf"), col("df"),
        round(col("_score"), 6).cast("double").as("score"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * fuse N ranked lists by score(q, d) = Σ_lists 1/(c + rank_list(d))
    * — the standard hybrid-retrieval combiner (sparse BM25 ⊕ dense
    * ANN) precisely because it needs no score calibration between
    * modalities, only ranks. Contributions are EXACT integers
    * (10^12 div (c + rank) — integer division, no floats anywhere),
    * so fusion sums, ordering, and ties are engine-exact by
    * construction; the quantization cannot reorder single-list
    * contributions (monotone in rank) and cross-list ties break on
    * ascending id.
    *
    * At scale: each input list is already top-k (≤ Q·k rows), the
    * fusion groupBy is map-side combinable, and the per-query top-k
    * is the mergeable grouped bottom-k — the whole fuse never
    * shuffles more than the lists themselves.
    *
    * Output: (queryCol, rank, idCol, rrf BIGINT — the 10^12-scaled
    * fused score, n_lists BIGINT — how many input lists ranked it).
    */
  def rrfFuse(rankings: Seq[DataFrame], queryCol: String, idCol: String,
      rankCol: String, k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "RRF needs at least one ranking")
    val unioned = rankings.map(_.select(
        col(queryCol).cast("long").as("_q"),
        col(idCol).cast("long").as("_id"),
        expr(s"1000000000000L div ($c + cast(`$rankCol` as bigint))").as("_c")))
      .reduce(_ unionByName _)
    val fused = unioned.groupBy("_q", "_id")
      .agg(sum(col("_c")).as("rrf"), count(lit(1)).as("n_lists"))
    fused
      .groupBy("_q")
      .agg(graft.functions.BottomK.bottomK(k)(-col("rrf"), col("_id")).as("_s"))
      .select(col("_q"), posexplode(col("_s")))
      .select(col("_q"), (col("pos") + 1L).cast("long").as("rank"), col("col._2").as("_id"))
      .join(fused, Seq("_q", "_id"))
      .select(col("_q").as(queryCol), col("rank"), col("_id").as(idCol),
        col("rrf"), col("n_lists"))
  }

  // ---------------------------------------------------------------
  // Stored-index internals shared by the frequency and positional
  // writers/appenders/servers.
  // ---------------------------------------------------------------

  /** One tokenize pass shared by every sidecar a write/append emits
    * (postings, stats, doclens — ADVICE r18: the delta was being
    * re-scanned and re-tokenized three times): (id, _toks, dl).
    */
  private def tokenized(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("_toks"))
      .withColumn("dl", size(col("_toks")).cast("long"))

  /** Postings rows of a corpus slice against a fixed bucket count:
    * one (term, id, dl, tf, _gen, _slice, bucket) row per distinct
    * term of each doc — tf from a within-doc (term, doc)
    * partial-aggregated count, bucket = pmod(murmur3(term),
    * nBuckets), `_gen` the generation stamp of the slice (0 for a
    * base build, the append's generation otherwise), `_slice` the
    * slice's COMMIT nonce (see [[appendToInvertedIndex]]). Shared by
    * the writer and the appender so appended postings are BY
    * CONSTRUCTION the rows a full rebuild would produce.
    */
  private def postingsRows(toks: DataFrame, nBuckets: Int,
      gen: Long, slice: String): DataFrame =
    toks.select(col("id"), col("dl"), explode(col("_toks")).as("term"))
      .groupBy(col("term"), col("id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("id"), col("dl"), col("tf"),
        lit(gen).as("_gen"), lit(slice).as("_slice"),
        pmod(hash(col("term")), lit(nBuckets)).as("bucket"))

  /** One mergeable stats row for a corpus slice: doc count and total
    * token length (plus the index's bucket count, constant across
    * rows). Serving SUMS the COMMITTED stats rows — and, when
    * re-ingests have superseded docs, subtracts the stale instances'
    * contribution from the doclens sidecar — so N and avgdl after
    * any append sequence are exactly the full-rebuild values.
    */
  private def statsRow(toks: DataFrame, nBuckets: Int,
      slice: String): DataFrame =
    toks.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("total_len"))
      .withColumn("n_buckets", lit(nBuckets))
      .withColumn("_slice", lit(slice))

  /** Per-doc length sidecar rows: (id, dl, _gen, _slice, bucket)
    * with bucket = pmod(murmur3(id), nBuckets) — the slim table that
    * makes the stats CORRECTION for superseded docs a bounded read:
    * a stale doc's (1, dl) contribution to the summed stats is
    * recovered from its doclens row, and the tombstoned ids' buckets
    * land as literals in the partition column, so the correction
    * reads at most min(|re-ingested|, nBuckets) directories — never
    * the corpus-sized postings.
    */
  private def doclensRows(toks: DataFrame, nBuckets: Int,
      gen: Long, slice: String): DataFrame =
    toks.select(col("id"), col("dl"), lit(gen).as("_gen"),
      lit(slice).as("_slice"),
      pmod(hash(col("id")), lit(nBuckets)).as("bucket"))

  /** The lexical tier's manifest id column ([[IndexManifest]]). */
  private val ManifestId = "id"

  private def serveState(spark: SparkSession, path: String,
      asOf: Long = Long.MaxValue, sig0: String = null) =
    IndexManifest.serveState(spark, path, ManifestId, asOf, sig0)

  /** An index's bucket count, read from its `stats` (frequency index)
    * or `meta` (positional index) sidecar. */
  private def nBucketsOf(spark: SparkSession, sidecar: String): Int =
    spark.read.parquet(sidecar).select(max(col("n_buckets"))).head().getInt(0)

  /** One slice's rows of the bucket-partitioned `table` at `path`
    * (postings, doclens), stamped with generation `gen`. */
  private def writeBuckets(rows: DataFrame, path: String, table: String,
      gen: Long): Unit =
    rows.write.mode(IndexManifest.saveMode(gen)).partitionBy("bucket")
      .parquet(s"$path/$table")

  /** One slice of a frequency index: its postings, stats and doclens
    * rows — shared by the base write and the append. */
  private def writeInvertedSlice(toks: DataFrame, nBuckets: Int,
      path: String)(gen: Long, slice: String): Unit = {
    writeBuckets(postingsRows(toks, nBuckets, gen, slice), path, "postings", gen)
    statsRow(toks, nBuckets, slice)
      .write.mode(IndexManifest.saveMode(gen)).parquet(s"$path/stats")
    writeBuckets(doclensRows(toks, nBuckets, gen, slice), path, "doclens", gen)
  }

  /** Compaction's postings rewrite, shared by both index layouts: the
    * source's LIVE postings (tombstone supersede applied), restamped
    * as the destination's base slice into fresh bucket partitions. */
  private def compactPostings(spark: SparkSession, srcPath: String,
      dstPath: String, ts: Option[IndexManifest.ServeState], gen: Long,
      slice: String): Unit =
    writeBuckets(IndexManifest.live(spark.read.parquet(s"$srcPath/postings"), ts)
      .withColumn("_gen", lit(gen)).withColumn("_slice", lit(slice)),
      dstPath, "postings", gen)

  /** Serve stats LRU keyed on (session token, asOf, path, manifest
    * fingerprint, stats fingerprint): the corrected (N, total_len)
    * are per-INDEX-STATE, not per-query (VERDICT r19 item 6), on the
    * same self-invalidating discipline as the manifest serve state
    * (five longs per entry). */
  private val statsCache =
    IndexManifest.lruCache[(Long, Long, Int, Long, Long)](64)

  /** STORED INVERTED INDEX — the lexical twin of the stored ANN index
    * (`Similarity.writeIvfPqIndex`): tokenize and aggregate ONCE,
    * serve forever. Postings (term, id, dl, tf) are written
    * `partitionBy(bucket)` with bucket = hash(term) % nBuckets, so a
    * T-term query reads at most T bucket DIRECTORIES of a
    * corpus-sized table (PlanShapeSpec locks the partition prune);
    * the stats sidecar is one mergeable (n_docs, total_len) row, and
    * a slim per-doc `doclens` sidecar (id-hash-bucketed) backs the
    * stats correction after re-ingest appends. Per-term df is NOT a
    * sidecar: it is the live posting-row count of the term, exact
    * from the probed bucket alone — nothing corpus-wide is read at
    * serve time.
    *
    * A REBUILD resets the generation clock and the history
    * ([[IndexManifest.writeBase]]).
    *
    * 100 TB shape: the build is one explode + one (term, doc)-keyed
    * partial-agg exchange (never a vocabulary-sized key — (term, doc)
    * cardinality is bounded by total tokens); serving reads T
    * directories, broadcasts a T-row df frame, and ranks with the
    * same TakeOrdered top-k as [[bm25TopK]] — no global sort, no
    * full scan per query.
    */
  def writeInvertedIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    IndexManifest.writeBase(docs.sparkSession, path)(writeInvertedSlice(
      tokenized(docs, idCol, textCol).persistTracked, nBuckets, path))
  }

  /** INCREMENTAL APPEND to a stored inverted index — a 100 TB corpus
    * is never re-tokenized from scratch per crawl (the q85/q148/q179/
    * q207 incremental discipline, lexical edition). Delta postings
    * are a pure per-doc function of (text, nBuckets), appended into
    * the bucket partition directories; the stats sidecar gains one
    * row and serving SUMS rows, so N, avgdl and every df — and hence
    * EVERY score, including those of pre-existing docs — equal the
    * full-rebuild values exactly (q220 gates serving over
    * base+append against the full-corpus SQL replay).
    *
    * RE-INGESTED ids supersede their stale state through the
    * TOMBSTONE manifest ([[IndexManifest]]): each
    * append records (id, gen) rows, and serving drops any postings
    * row with a newer tombstone for its id — necessary because a
    * re-crawled doc's changed text scatters stale postings across
    * OTHER term buckets, where no within-bucket dedup can see them.
    * The summed stats are corrected by subtracting the stale
    * instances' (1, dl) contributions, recovered from the id-bucketed
    * doclens sidecar under a literal bucket prune (re-ingest-bounded
    * directories). Serving over the appended index ≡ a full rebuild
    * over (base \ re-ingested) ∪ delta — q231 gates it against the
    * true-corpus SQL replay; when cumulative tombstones grow large,
    * [[compactInvertedIndex]] folds them away.
    *
    * EXACTLY-ONCE (what makes streaming ingest safe, q237): the
    * postings/stats/doclens writes run inside [[IndexManifest.commit]]
    * under a fresh slice nonce, and serving reads only committed
    * slices, so an attempt that died mid-append left rows that are
    * permanently invisible. Re-delivery of an already-COMMITTED
    * batch is skipped via `batchKey`.
    *
    * Preconditions: ids are unique WITHIN one delta (the q179
    * contract, narrowed); re-ingesting ids from the base or earlier
    * appends is the supported re-crawl path. An empty delta is a
    * no-op — no stats row, no new generation. SINGLE WRITER per
    * index path, enforced loudly post-commit
    * ([[IndexManifest.verifySoleWriter]]).
    */
  def appendToInvertedIndex(deltaDocs: DataFrame, idCol: String,
      textCol: String, path: String, batchKey: String = null): Unit = {
    // ONE tokenize pass feeds the emptiness probe and all four
    // sidecar writes (ADVICE r18: the delta plan was evaluated
    // three times)
    val toks = tokenized(deltaDocs, idCol, textCol).persistTracked
    if (IndexManifest.skip(toks, path, ManifestId, batchKey)) return
    IndexManifest.commit(toks, path, ManifestId, batchKey)(writeInvertedSlice(
      toks, nBucketsOf(deltaDocs.sparkSession, s"$path/stats"), path))
  }

  /** RIGHT-TO-BE-FORGOTTEN DELETE from a stored inverted index — the
    * takedown/opt-out batch a training-data pipeline must honor
    * without rewriting a corpus-sized table: a delete is a
    * TOMBSTONE-ONLY append (manifest rows at a fresh generation, no
    * postings/stats/doclens), and the existing supersede machinery
    * does the rest. Every postings row of a deleted id carries an
    * older generation, so serving drops it in EVERY term bucket; the
    * doclens correction subtracts the doc's (1, dl) instances from
    * N/total_len (a delete has no replacement rows, so ALL its
    * instances are stale); df/cf shrink via the live posting-row
    * counts. A LATER re-ingest of the id resurrects it (its
    * generation outranks the delete's); [[compactInvertedIndex]]
    * physically drops deleted rows. O(|deletes|) write cost —
    * nothing corpus-sized moves until compaction. Atomic: the delete
    * is an [[IndexManifest.commit]] with no data writes. `batchKey`
    * gives streaming deletes the same idempotent re-delivery skip as
    * ingest; the single-writer contract of [[appendToInvertedIndex]]
    * applies (a delete claims a generation too).
    */
  def deleteFromInvertedIndex(ids: DataFrame, idCol: String,
      path: String, batchKey: String = null): Unit =
    IndexManifest.delete(ids.select(col(idCol).as(ManifestId)), path,
      ManifestId, "postings", "deleteFromInvertedIndex", batchKey)

  /** [[deleteFromInvertedIndex]] for a positional index — identical
    * manifest layout, identical semantics (q240 gates the phrase
    * serve after a delete against the filtered-corpus replay).
    */
  def deleteFromPositionalIndex(ids: DataFrame, idCol: String,
      path: String, batchKey: String = null): Unit =
    deleteFromInvertedIndex(ids, idCol, path, batchKey)

  /** The stale-instance correction to the SUMMED stats rows: docs
    * superseded by a newer tombstone contributed (1, dl) to the
    * stats row of the slice that ingested them — subtract it back
    * out, reading only the tombstoned ids' doclens bucket
    * directories (literal partition prune; the bucket list is a
    * tombstone-table-sized job, ≤ nBuckets values). Returns
    * (staleDocs, staleLen) — (0, 0) when no tombstones exist.
    */
  private def staleStats(spark: SparkSession, path: String,
      nBuckets: Int, ts: Option[IndexManifest.ServeState]): (Long, Long) =
    ts.map { s =>
      val buckets = s.tmax
        .select(pmod(hash(col("id")), lit(nBuckets)).as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq
      // committed slices only: an orphan doclens row was never
      // counted in the (committed-filtered) summed stats, so it must
      // not be subtracted either
      val r = IndexManifest.committed(spark.read.parquet(s"$path/doclens")
          .filter(col("bucket").isin(buckets: _*)), ts)
        .join(broadcast(s.tmax), Seq("id"))
        .filter(col("_gen") < col("_tg"))
        .agg(count(lit(1)).as("c"),
          coalesce(sum(col("dl")), lit(0L)).as("l"))
        .head()
      (r.getLong(0), r.getLong(1))
    }.getOrElse((0L, 0L))

  /** POSITIONAL inverted index — [[writeInvertedIndex]]'s layout with
    * a per-(term, doc) sorted positions list (the classic Lucene
    * positions tradeoff: bigger postings buy phrase/proximity
    * queries without ever re-reading text). Kept as a SEPARATE
    * writer so the frequency-only index stays slim. Postings:
    * (term, id, dl, tf, positions, _gen) partitioned by
    * hash(term) % nBuckets; a meta sidecar carries the bucket count.
    * No stats/doclens sidecars: phrase and proximity serving are
    * pure per-doc functions of the probed postings, so the lifecycle
    * ([[appendToPositionalIndex]] / [[compactPositionalIndex]])
    * needs only the tombstone supersede, no stats correction. A
    * rebuild resets the generation clock.
    */
  def writePositionalIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    IndexManifest.writeBase(spark, path) { (gen, slice) =>
      writeBuckets(positionalRows(docs, idCol, textCol, nBuckets, gen, slice),
        path, "postings", gen)
    }
    Seq(nBuckets).toDF("n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Positional postings rows for one corpus slice — a pure per-doc
    * function of (text, nBuckets), shared by the writer and the
    * appender so appended rows ≡ the rows a full rebuild would
    * produce. */
  private def positionalRows(docs: DataFrame, idCol: String,
      textCol: String, nBuckets: Int, gen: Long,
      slice: String): DataFrame =
    docs.select(col(idCol).as("id"),
        Text.tokens(col(textCol)).as("_toks"))
      .withColumn("dl", size(col("_toks")).cast("long"))
      .select(col("id"), col("dl"),
        posexplode(col("_toks")).as(Seq("_p", "term")))
      .groupBy(col("term"), col("id"), col("dl"))
      .agg(sort_array(collect_list(col("_p") + 1)).as("positions"),
        count(lit(1)).as("tf"))
      .select(col("term"), col("id"), col("dl"), col("tf"),
        col("positions"), lit(gen).as("_gen"), lit(slice).as("_slice"),
        pmod(hash(col("term")), lit(nBuckets)).as("bucket"))

  /** INCREMENTAL APPEND to a positional index — the q231 lifecycle
    * on the positions layout: delta postings (a pure per-doc
    * function) land in the bucket partition directories with a fresh
    * generation stamp, and an (id, gen) tombstone row per delta doc
    * supersedes any stale postings a re-crawled id left in OTHER
    * term buckets. No stats sidecar exists to correct — phrase and
    * proximity are per-doc functions of the live postings — so
    * append ≡ rebuild needs nothing beyond the supersede (q232
    * gates the phrase serve, q233 the proximity serve after
    * compaction, both against the true-corpus replay). Ids unique
    * within one delta; empty delta is a no-op; single writer per
    * index path, enforced loudly post-commit
    * ([[appendToInvertedIndex]]'s contract).
    */
  def appendToPositionalIndex(deltaDocs: DataFrame, idCol: String,
      textCol: String, path: String, batchKey: String = null): Unit = {
    val ids = deltaDocs.select(col(idCol).as(ManifestId))
    if (IndexManifest.skip(ids, path, ManifestId, batchKey)) return
    val nBuckets = nBucketsOf(deltaDocs.sparkSession, s"$path/meta")
    IndexManifest.commit(ids, path, ManifestId, batchKey) { (gen, slice) =>
      writeBuckets(positionalRows(deltaDocs, idCol, textCol, nBuckets, gen,
        slice), path, "postings", gen)
    }
  }

  /** COMPACTION for a positional index: rewrite the LIVE postings
    * (tombstone supersede applied, generations reset to 0) into
    * fresh bucket partitions at a NEW path with no tombstone sidecar
    * — write-new-flip-pointer, as [[compactInvertedIndex]]. Serving
    * from the compacted index is bit-identical to the source.
    */
  def compactPositionalIndex(spark: SparkSession, srcPath: String,
      dstPath: String): Unit =
    IndexManifest.compact(spark, srcPath, dstPath, ManifestId,
      "compactPositionalIndex", Seq("meta"))(
      compactPostings(spark, srcPath, dstPath, _, _, _))(
      spark.read.parquet(s"$dstPath/postings")
        .agg(count_distinct(col("id"))).head().getLong(0))


  /** `pmod(hash(term), nBuckets)` evaluated driver-side: the same
    * resolved Murmur3 expression (seed 42) the build plan uses, so the
    * probed bucket is identical by construction — minus the per-serve
    * T-row Spark job the `terms.toDF` formulation paid.
    */
  private def termBucket(t: String, nBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val h = new Murmur3Hash(Seq(Literal.create(t)))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Int]
    ((h % nBuckets) + nBuckets) % nBuckets
  }

  /** The serve-side postings read of every index ranker: the LIVE
    * postings (tombstone supersede applied — see
    * [[appendToInvertedIndex]]) of `terms`, read from their probed
    * bucket directories only. Each bucket is [[termBucket]] of the
    * term, so the buckets land as literals IN the partition column
    * (the codes-scan prune of q201, lexical edition; PlanShapeSpec
    * locks it). `ts` is by-name: the positional serve resolves its
    * serve state after the postings listing. */
  private def probedPostings(spark: SparkSession, path: String,
      terms: Seq[String], nBuckets: Int,
      ts: => Option[IndexManifest.ServeState]): DataFrame = {
    val buckets = terms.map(termBucket(_, nBuckets)).distinct
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isin(buckets: _*) &&
        col("term").isin(terms: _*))
    IndexManifest.live(postings, ts)
  }

  /** The positional serve-side read shared by phrase and proximity:
    * [[probedPostings]] against the meta sidecar's bucket count. */
  private def positionalPostings(spark: SparkSession, path: String,
      terms: Seq[String], asOf: Long): DataFrame =
    probedPostings(spark, path, terms, nBucketsOf(spark, s"$path/meta"),
      serveState(spark, path, asOf))

  /** PHRASE occurrence counts served from a positional index
    * ([[writePositionalIndex]]): docs containing the exact token
    * sequence `phrase`, with their occurrence count. Reads ONLY the
    * phrase terms' bucket directories, pivots each distinct term's
    * positions array onto one row per doc, and counts the alignment
    * (positions p of the first term where every later term i sits at
    * p + i) — equivalent, by construction over whitespace tokens, to
    * counting the phrase's m-grams in the text (which is exactly how
    * the q225 oracle replays it; overlapping occurrences each
    * count). The alignment is a LEFT FOLD of set intersections over
    * the sorted positions arrays — aligned = pos₀ ∩ (pos₁ − 1) ∩ …
    * ∩ (pos_{m−1} − (m−1)), O(Σ tf) per doc via `array_intersect`
    * (positions are distinct within a doc, so set semantics are
    * exact), replacing the per-probe `array_contains` walk that was
    * O(tf₀ · Σ tf) on hot terms (VERDICT r18 item 3). A doc missing
    * any phrase term never aligns (missing arrays coalesce to
    * empty). Output: (idCol, phrase_tf) for docs with phrase_tf > 0,
    * which keeps the result a pure function of the probed buckets.
    */
  def phraseOccurrencesFromIndex(spark: SparkSession, path: String,
      idCol: String, phrase: Seq[String],
      asOfGen: Long = Long.MaxValue): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least two terms")
    val terms = phrase.distinct
    val postings = positionalPostings(spark, path, terms, asOfGen)
    val emptyPos = array().cast("array<int>")
    val pivots = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("positions"))).as(s"_pos$i") }
    val perDoc = postings.groupBy(col("id"))
      .agg(pivots.head, pivots.tail: _*)
    def posOf(i: Int): Column =
      coalesce(col(s"_pos${terms.indexOf(phrase(i))}"), emptyPos)
    val aligned = phrase.indices.tail.foldLeft(posOf(0)) { (acc, i) =>
      array_intersect(acc, transform(posOf(i), p => p - i))
    }
    perDoc
      .select(col("id").as(idCol),
        size(aligned).cast("long").as("phrase_tf"))
      .filter(col("phrase_tf") > 0)
  }

  /** COMPACTION for a stored inverted index: after many crawl appends
    * a bucket directory holds one small file per append, the stats
    * sidecar one row per slice, and re-ingests pile up tombstones —
    * compaction rewrites the LIVE postings (supersede applied,
    * generations reset to 0) into fresh bucket partitions and
    * recomputes the stats as ONE row from the live doclens (exactly
    * the rebuild values, folding every tombstone correction away), at
    * a NEW path with no tombstone sidecar (write-new-flip-pointer,
    * the object-store-safe shape; an in-place rewrite would race its
    * own input). Serving from the compacted index is bit-identical to
    * the source (InvertedIndexSpec locks it, q226 gates it against
    * the full-corpus replay).
    *
    * RETENTION: the compacted index's generation clock restarts at 0,
    * so a run pinned to `asOfGen = N` of the SOURCE keeps serving
    * from the source path — compaction never touches it — until the
    * operator retires the pin and drops the path (q250 gates exactly
    * that read). The lineage sidecar ([[IndexLineage]], one row:
    * src_path, src_gen, n_live) records the link; [[indexHistory]]
    * surfaces it (q249).
    */
  def compactInvertedIndex(spark: SparkSession, srcPath: String,
      dstPath: String): Unit = {
    val nBuckets = nBucketsOf(spark, s"$srcPath/stats")
    IndexManifest.compact(spark, srcPath, dstPath, ManifestId,
        "compactInvertedIndex", Nil) { (ts, gen, slice) =>
      compactPostings(spark, srcPath, dstPath, ts, gen, slice)
      val liveDl = IndexManifest.live(spark.read.parquet(s"$srcPath/doclens"), ts)
        .persistTracked
      writeBuckets(liveDl.select(col("id"), col("dl"), lit(gen).as("_gen"),
        lit(slice).as("_slice"), col("bucket")), dstPath, "doclens", gen)
      statsRow(liveDl, nBuckets, slice)
        .write.mode(IndexManifest.saveMode(gen)).parquet(s"$dstPath/stats")
    }(spark.read.parquet(s"$dstPath/stats")
        .agg(coalesce(sum(col("n_docs")), lit(0L))).head().getLong(0))
  }

  /** INDEX HISTORY — the `DESCRIBE HISTORY` of the lakehouse-lite
    * commit manifest: one row per committed generation with its
    * batch key (null for ad-hoc appends/deletes) and how many doc
    * ids it touched. Generation numbers are the index's commit
    * clock; feed one to a serve function's `asOfGen` to TIME-TRAVEL
    * (q242). A delete generation shows its doc count too — the
    * manifest cannot distinguish a delete from an append by itself
    * (both are id rows at a generation; only deletes write no data),
    * which is exactly why this report exists for auditing. A
    * compacted index leads with its lineage row (gen 0, batch_key
    * `compact:gen=<source's final gen>`, [[IndexLineage]]). Manifest-
    * sized read; a never-appended base index reports zero rows.
    */
  def indexHistory(spark: SparkSession, path: String): DataFrame =
    IndexManifest.history(spark, path)

  /** VOCABULARY REPORT from a stored index — corpus term statistics
    * (document frequency, collection frequency) as ONE aggregate over
    * the slim LIVE postings (tombstone supersede applied — a
    * re-crawled doc's stale terms must not count), never re-reading
    * text: df = posting-row count, cf = tf sum. Returns the top-k
    * terms by (df desc, term) — the q70 heavy-hitters shape served
    * from the index.
    */
  def vocabularyFromIndex(spark: SparkSession, path: String,
      k: Int): DataFrame =
    IndexManifest.live(spark.read.parquet(s"$path/postings"),
        serveState(spark, path))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      .orderBy(col("df").desc, col("term"))
      .limit(k)

  /** PROXIMITY search from a positional index
    * ([[writePositionalIndex]]): docs where `termA` and `termB`
    * co-occur within `window` tokens, with their minimal absolute
    * position distance — the slop-query companion to
    * [[phraseOccurrencesFromIndex]], reading only the two terms'
    * bucket directories. The per-doc min distance is a MERGE WALK:
    * tag each (already sorted) positions array with its source,
    * `array_sort` the union, and one linear fold tracks the last
    * position seen from each side — in ascending order the minimal
    * |a − b| is always realized by an adjacent cross-source pair, so
    * the fold is exact. O((tf_A + tf_B) log(tf_A + tf_B)) per doc,
    * replacing the nested O(tf_A · tf_B) pair fold that made two
    * stop-words in a 100k-token doc a 10¹⁰-op row (VERDICT r18
    * item 3; the hot-term bound is spec-locked). Output:
    * (idCol, min_dist) for docs with both terms and
    * min_dist ≤ window.
    */
  def proximityFromIndex(spark: SparkSession, path: String, idCol: String,
      termA: String, termB: String, window: Int,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    require(window >= 1, "window must be at least 1")
    require(termA != termB, "proximity needs two distinct terms")
    val postings =
      positionalPostings(spark, path, Seq(termA, termB), asOfGen)
    val perDoc = postings.groupBy(col("id"))
      .agg(max(when(col("term") === termA, col("positions"))).as("_pa"),
        max(when(col("term") === termB, col("positions"))).as("_pb"))
      .filter(col("_pa").isNotNull && col("_pb").isNotNull)
    // merged (pos, src) stream, ascending by position (a position
    // belongs to exactly one term, so no cross-source ties exist)
    val tagged = concat(
      transform(col("_pa"), p => struct(p.as("pos"), lit(0).as("src"))),
      transform(col("_pb"), p => struct(p.as("pos"), lit(1).as("src"))))
    val st0 = struct(lit(-1).as("la"), lit(-1).as("lb"),
      lit(Int.MaxValue).as("best"))
    val minDist = aggregate(array_sort(tagged), st0,
      (st, e) => {
        val pos = e.getField("pos")
        val isA = e.getField("src") === 0
        val best =
          when(isA && st.getField("lb") >= 0,
            least(st.getField("best"), pos - st.getField("lb")))
          .when(!isA && st.getField("la") >= 0,
            least(st.getField("best"), pos - st.getField("la")))
          .otherwise(st.getField("best"))
        struct(
          when(isA, pos).otherwise(st.getField("la")).as("la"),
          when(!isA, pos).otherwise(st.getField("lb")).as("lb"),
          best.as("best"))
      },
      st => st.getField("best"))
    perDoc
      .select(col("id").as(idCol), minDist.cast("long").as("min_dist"))
      .filter(col("min_dist") <= window)
  }

  /** BATCH multi-query BM25 served from a stored index — the
    * standing-queries workload ([[bm25TopKBatch]]) without the corpus
    * scan: the UNION of all query terms prunes the postings read to
    * its bucket directories once, per-doc (tf, df) pairs pivot back
    * into each query's OWN fixed-term-order score tree, and the
    * per-query top-k is the same mergeable grouped bottom-k on the
    * negated 6-dp-scaled score. Output rows are bit-identical to
    * [[bm25TopKBatch]] over the indexed corpus (InvertedIndexSpec
    * locks it; q223 gates serving against the per-query SQL replays)
    * — same scores, same ranks, same tie-breaks. Requires a NUMERIC
    * id (the [[bm25TopKBatch]] bottom-k key contract, checked
    * loudly); the single-query rankers preserve the native id type.
    */
  def bm25TopKBatchFromIndex(spark: SparkSession, path: String,
      idCol: String, queries: Seq[(Long, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "each query needs at least one term")
    rankTopKBatch(pivotedFromIndex(spark, path, queries.flatMap(_._2), asOfGen),
      queries, idCol, k, k1, b, "bm25TopKBatchFromIndex")
  }

  /** The index path's [[LexicalStats]]: the probed-bucket LIVE
    * postings of the distinct `queryTerms` pivoted to one row per doc
    * with (_tf_i, _df_i) per term (df for idf scoring — only ever read
    * under a tf > 0 guard, so per-doc is safe), the
    * corrected-summed-stats (N, total_len) as plan constants, and the
    * GLOBAL per-term collection frequencies for language-model
    * smoothing.
    */
  private def pivotedFromIndex(spark: SparkSession, path: String,
      queryTerms: Seq[String], asOf: Long): LexicalStats = {
    val terms = queryTerms.distinct
    // ONE manifest fingerprint feeds both the serve-state key and
    // the stats key: ts and the cached stats must describe the SAME
    // index state, or a commit racing this serve could file
    // old-state values under a new-state key
    val tSig = IndexManifest.fingerprint(spark, path)
    val ts = serveState(spark, path, asOf, tSig)
    // the stats head + stale-stats probe are per-index-state, not
    // per-query — cached on the same fingerprint discipline as the
    // serve state (plus the stats dir, which a REBUILD overwrites
    // without touching a manifest)
    val (nDocs, totLen, nBuckets, staleN, staleLen) =
      IndexManifest.cached(statsCache,
        IndexManifest.cacheKey(IndexManifest.tokenOf(spark), asOf, path, tSig,
          IndexManifest.dirSig(spark, s"$path/stats"))) {
          val st = IndexManifest.committed(spark.read.parquet(s"$path/stats"), ts)
            .agg(sum(col("n_docs")).as("_n"),
              sum(col("total_len")).as("_len"),
              max(col("n_buckets")).as("_nb")).head()
          val nb = st.getAs[Int]("_nb")
          // superseded docs still ride in the summed stats rows —
          // subtract their (1, dl) back out (bounded doclens read;
          // (0, 0) when the index has never seen a re-ingest)
          val (sn, sl) = staleStats(spark, path, nb, ts)
          (st.getAs[Long]("_n"), st.getAs[Long]("_len"), nb, sn, sl)
        }
    val postings = probedPostings(spark, path, terms, nBuckets, ts)
    val dfs = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("_df"), sum(col("tf")).as("_cf"))
    val pivots = terms.zipWithIndex.flatMap { case (t, i) => Seq(
      sum(when(col("term") === t, col("tf"))).as(s"_tf$i"),
      max(when(col("term") === t, col("_df"))).as(s"_df$i")) }
    val perDoc = postings.join(broadcast(dfs), "term")
      .groupBy(col("id"), col("dl"))
      .agg(pivots.head, pivots.tail: _*)
    // global per-term collection frequency as a T-row bounded
    // collect: cf is a CORPUS constant per term (unlike df, which
    // only ever appears under a tf > 0 guard, cf feeds the
    // background probability of docs that do NOT contain the term —
    // a per-doc pivot would silently zero those contributions).
    // LAZY: only the language-model ranker reads cf; the BM25 family
    // discards it, and eager evaluation charged every BM25 serve a
    // whole postings-scan job for a value it never used.
    val cfByTerm = () => dfs.select(col("term"), col("_cf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    LexicalStats(perDoc, "id", "dl", terms,
      i => coalesce(col(s"_tf$i"), lit(0L)), i => col(s"_df$i"),
      lit(nDocs - staleN).cast("double"), lit(totLen - staleLen).cast("double"),
      Some(cfByTerm))
  }

  /** Top-k DIRICHLET QUERY-LIKELIHOOD retrieval served from a stored
    * index (Zhai & Lafferty, SIGIR 2001) — a second ranking family
    * over the SAME postings, exercising what BM25 does not:
    * collection frequency. score(d) = Σ_t ln((tf + μ·cf_t/C) /
    * (dl + μ)) over the query terms in fixed order, where C is the
    * corpus token count from the summed stats sidecar; terms absent
    * from the corpus (cf = 0, background probability undefined)
    * contribute 0 by convention. The candidate set is docs matching
    * ≥ 1 query term — the standard IR serving convention for an
    * inverted index (only probed postings are read), stated here as
    * a deliberate RANKING CONVENTION, not a no-loss guarantee: all
    * score terms are negative, so a short unmatched doc can in
    * principle outscore a long matched one — the oracle replays the
    * same convention (ADVICE r18). Scores are NEGATIVE log
    * likelihoods rounded 6 dp; ties on ascending id. A repeated query
    * term is rejected.
    */
  def qlTopKFromIndex(spark: SparkSession, path: String, idCol: String,
      terms: Seq[String], k: Int, mu: Double = 1000.0,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    require(terms.nonEmpty, "QL needs at least one query term")
    require(mu > 0.0, "mu must be positive")
    val s = pivotedFromIndex(spark, path, terms, asOfGen)
    val cfByTerm = s.cf.get()
    val dlD = col(s.dl).cast("double")
    val score: Column = slots(s, terms, "qlTopKFromIndex", None).map { i =>
      val tf = s.tf(i).cast("double")
      val cf = lit(cfByTerm.getOrElse(s.terms(i), 0L)).cast("double")
      when(cf > lit(0.0),
        log((tf + lit(mu) * cf / s.len) / (dlD + lit(mu))))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    rankTopK(s, score, idCol, k)(identity)
  }

  /** Top-k BM25 served from a stored index ([[writeInvertedIndex]]):
    * bit-identical to [[bm25TopK]] over the indexed corpus — the
    * per-term (tf, df) pairs are pivoted back into the SAME
    * fixed-`terms`-order left-associative score tree (each pivot
    * aggregate sums exactly one long, so every input to the float
    * arithmetic is the integer the full scan would produce), with
    * (N, total_len) read from the summed stats sidecar as plan
    * constants. The probed buckets are the build's hash of each term
    * evaluated driver-side ([[termBucket]]), landing as literals IN
    * the partition column — the codes-scan prune of q201, lexical
    * edition. A repeated query term is rejected, as in [[bm25TopK]].
    *
    * `asOfGen` = TIME-TRAVEL READ ([[indexHistory]] lists the clock):
    * serve the index AS OF that commit generation — appends and
    * deletes committed later are invisible, reproducing the exact
    * corpus state a past training run retrieved from (the
    * data-lineage hook: pin the generation in the run's metadata,
    * re-serve it forever, q242 gates it). Default = latest.
    */
  def bm25TopKFromIndex(spark: SparkSession, path: String, idCol: String,
      terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    val s = pivotedFromIndex(spark, path, terms, asOfGen)
    rankTopK(s, bm25Score(s, terms, k1, b, "bm25TopKFromIndex"), idCol, k)(positive)
  }
}
