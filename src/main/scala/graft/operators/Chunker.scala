package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Document chunking for training-data preparation: split each
  * document into fixed-token-length windows with a configurable
  * stride (overlap), the step between "raw corpus" and "training
  * sequences" in every LLM pipeline (and the retrieval-index unit for
  * RAG). Chunk-level dedup/contamination then compose with the
  * existing operators on the chunk frame.
  *
  * Semantics: chunks start at token offsets 0, stride, 2·stride, …,
  * up to the FIRST start whose window reaches the end of the document
  * — every token belongs to ≥1 chunk (stride ≤ window enforces
  * cover), the last chunk may be shorter than `window`, and no chunk
  * is a subset of its predecessor (a tail start already covered by
  * the previous window is NOT emitted — it would duplicate text into
  * the training stream). A doc with ≤ window tokens yields exactly
  * one chunk; an empty doc yields none.
  *
  * 100 TB shape: a pure map-side projection + explode — tokenize once
  * (`graft_tokens`, codegen CSE), build the chunk array with `slice`
  * over the token array (no re-tokenization per chunk), explode with
  * `posexplode` so the chunk index is stable. No shuffle at all; the
  * fan-out is rows × ⌈dl/stride⌉, the same linearity as the shingle
  * operators. Chunk ids are (doc_id, chunk_idx) — deterministic,
  * layout-independent.
  */
object Chunker {

  /** Chunk array of `textCol`: element i = tokens
    * [i·stride, i·stride + window) re-joined with single spaces.
    */
  def chunkArray(text: Column, window: Int, stride: Int): Column = {
    require(window > 0, s"window must be positive, got $window")
    require(stride > 0 && stride <= window,
      s"stride must be in [1, window] for full cover, got $stride")
    val toks = Text.tokens(text)
    // starts 0..L where L is the first offset whose window covers the
    // tail: ceil((dl − window)/stride) + 1 chunks for dl > window,
    // else one. The naive ceil(dl/stride) would emit tail chunks that
    // are strict SUBSETS of their predecessor (dl=30, window=32,
    // stride=24 → a second chunk of tokens 25-30 ⊂ chunk 0),
    // duplicating text into the training stream.
    val dl = size(toks)
    val nChunks = when(dl <= window, lit(1))
      .otherwise(ceil((dl - window).cast("double") / stride).cast("int") + 1)
    // sequence(0, -1) would yield a DESCENDING [0, -1] — guard empties
    // (same pitfall as FuzzyJoin.deletionNeighborhood)
    when(dl === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(toks, i * stride + 1, lit(window)))))
  }

  /** Content-defined chunk array: boundaries fall AFTER any token
    * whose 31-bit polynomial fingerprint
    * ([[graft.functions.FingerprintExpression]], the q19 kernel) is
    * ≡ 0 mod `divisor` — chunk edges are a pure function of LOCAL
    * content, so inserting or deleting a prefix shifts which chunk a
    * token lands in by CONTENT, not by offset, and all chunks after
    * the edit point are byte-identical to the original's. That
    * shift-resistance is the content-defined-chunking idea of LBFS
    * (Muthitacharoen, Chen & Mazières, SOSP 2001) and FastCDC (Xia
    * et al., USENIX ATC 2016), lifted from bytes+Rabin/gear to
    * tokens+the repo's SQL-replayable fingerprint: fixed windows
    * ([[chunkArray]]) share ~zero chunks across a one-token prefix
    * edit; content-defined chunks share all but the first.
    *
    * Expected chunk length is `divisor` tokens (each token is a
    * boundary with prob 1/divisor). DELIBERATELY no min/max bounds:
    * the unbounded variant keeps every boundary decision local — a
    * pure map-side fold, no per-doc sequential cap state — at the
    * cost of occasional long chunks on boundary-free runs (cap-
    * sensitive consumers re-split with [[chunkArray]] downstream).
    *
    * 100 TB shape: tokenize once, one fold per doc (the greedy
    * accumulator walks tokens once, closing a chunk at each
    * boundary), `posexplode` for stable chunk ids. No shuffle.
    */
  def chunkArrayContentDefined(text: Column, divisor: Int): Column = {
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val toks = Text.tokens(text)
    val folded = aggregate(
      toks,
      struct(
        array().cast("array<array<string>>").as("done"),
        array().cast("array<string>").as("cur")),
      (acc, t) => {
        val cur = concat(acc.getField("cur"), array(t))
        val isBoundary =
          pmod(graft.functions.FingerprintExpression.fingerprint(t), lit(divisor)) === 0
        when(isBoundary,
          struct(concat(acc.getField("done"), array(cur)).as("done"),
            array().cast("array<string>").as("cur")))
          .otherwise(struct(acc.getField("done").as("done"), cur.as("cur")))
      },
      acc => when(size(acc.getField("cur")) > 0,
        concat(acc.getField("done"), array(acc.getField("cur"))))
        .otherwise(acc.getField("done")))
    transform(folded, c => concat_ws(" ", c))
  }

  /** Explode docs into content-defined (idCol, chunk_idx, chunk,
    * n_tokens) rows — [[chunk]]'s schema, CDC boundaries. Runs on
    * the native [[graft.functions.CdcChunkKernel]] kernel (one linear
    * pass per doc); [[chunkArrayContentDefined]] is the composable
    * spec it is property-tested against — the fold form copies its
    * accumulator per token (O(tokens²)/doc), wrong for the multi-KB
    * documents CDC exists for.
    */
  def chunkContentDefined(df: DataFrame, idCol: String, textCol: String,
                          divisor: Int): DataFrame =
    df.select(col(idCol),
        posexplode(graft.functions.ChunkExpressions.cdcChunks(col(textCol), divisor))
          .as(Seq("chunk_idx", "chunk")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk"), Text.tokenCount(col("chunk")).cast("long").as("n_tokens"))

  /** Explode docs into (idCol, chunk_idx, chunk, n_tokens) rows. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            window: Int, stride: Int): DataFrame =
    df.select(col(idCol),
        posexplode(chunkArray(col(textCol), window, stride))
          .as(Seq("chunk_idx", "chunk")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk"), Text.tokenCount(col("chunk")).cast("long").as("n_tokens"))
}
