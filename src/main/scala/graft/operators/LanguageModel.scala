package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Exact
import graft.functions.Text

/** Model-based quality filtering: an n-gram language model trained on
  * a reference corpus scores every document's perplexity, and docs
  * whose perplexity lands outside their language's band are dropped —
  * the CCNet pipeline stage (Wenzek et al., "CCNet: Extracting High
  * Quality Monolingual Datasets from Web Crawl Data", LREC 2020,
  * which filters Common Crawl on Wikipedia-trained LM perplexity
  * tertiles). CCNet uses a KenLM 5-gram; this operator is the
  * Spark-native bigram form with add-one (Laplace) smoothing — the
  * statistical machinery (count, smooth, log-score, banded filter) at
  * oracle-checkable exactness, with the n-gram order a schema detail.
  *
  * Determinism contract (the q98/Exact discipline): every count is
  * exact integer; each bigram's log-probability is rounded to 9 dp
  * BEFORE summation so both engines agree bit-for-bit; the per-doc
  * sum is an exact DECIMAL aggregation (order-independent at any
  * parallelism); only one final division + exp per doc is floating
  * point. That is what lets a DuckDB oracle replay the whole filter.
  *
  * Execution shape at 100 TB: training is one map-side-combinable
  * `groupBy(w1, w2)` — shuffle ∝ distinct bigrams, not the corpus.
  * Scoring shuffles each doc's bigrams once to join the count table
  * (hot function-word bigrams — "of the" — are the classic skewed
  * join key: AQE splits them; the model table usually broadcasts
  * outright since a bigram LM is tens of millions of rows ≪ corpus).
  * The context table and vocab scalar are derived model-sized frames.
  */
object LanguageModel {

  private[graft] def bigrams(df: DataFrame, textCol: String, keep: Column*): DataFrame = {
    // one codegen kernel pass per doc ([[graft.functions.NgramKernels
    // .pairs]]) instead of the interpreted zip_with-of-slices tree
    // (kept below as [[bigramsHof]], the executable spec —
    // NgramKernelSpec locks them bit-identical)
    val t = Text.tokens(col(textCol))
    df.select(keep :+ explode(
        graft.functions.NgramExpressions.tokenPairs(t)).as("_p"): _*)
      .select(keep :+ col("_p.w1") :+ col("_p.w2"): _*)
  }

  /** EXECUTABLE SPEC for [[bigrams]]'s former formulation (also the
    * tree [[CorpusStats.pmiCollocations]] used for its bigram
    * stream). Not on any query path.
    */
  private[graft] def bigramsHof(df: DataFrame, textCol: String,
      keep: Column*): DataFrame = {
    val t = Text.tokens(col(textCol))
    df.select(keep :+ explode(zip_with(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("_p"): _*)
      .select(keep :+ col("_p.w1") :+ col("_p.w2"): _*)
  }

  /** Train the bigram model: returns (bigram counts (w1, w2, cnt),
    * vocab — a ONE-ROW frame (v BIGINT) with the training corpus's
    * distinct-token count, the Laplace smoothing denominator mass).
    */
  def trainBigram(train: DataFrame, textCol: String): (DataFrame, DataFrame) = {
    val counts = bigrams(train, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    val vocab = train
      .select(explode(Text.tokens(col(textCol))).as("_w"))
      .agg(count_distinct(col("_w")).as("v"))
    (counts, vocab)
  }

  /** Per-doc perplexity under the trained model:
    * p(w2|w1) = (c(w1,w2) + 1) / (ctx(w1) + V) with
    * ctx(w1) = Σ_w2 c(w1,w2) (so every conditional sums to 1), and
    * ppl = exp(−mean ln p) over the doc's bigrams. Unseen contexts
    * fall back to the uniform 1/V Laplace mass. Docs with fewer than
    * two tokens have no bigrams and are absent from the output
    * (score them upstream by length rules — a 1-token doc has no LM
    * evidence either way).
    *
    * Output: (idCol, n_bigrams BIGINT, ppl DOUBLE rounded 6 dp).
    */
  def perplexity(docs: DataFrame, idCol: String, textCol: String,
      bigramCounts: DataFrame, vocab: DataFrame): DataFrame = {
    // the trained model is collected ONCE into a plan-reference
    // constant and scoring is a stateless per-row kernel projection —
    // graft_bigram_ppl, the SAME kernel the q115 streaming scorer
    // already gates as numerically identical to the declarative plan
    // below ([[perplexityHof]], kept as the executable spec;
    // LanguageModelSpec locks kernel ≡ HOF). The collect is the
    // broadcast path's own driver footprint (a broadcast collects to
    // the driver first), minus three broadcast-build jobs and the
    // per-doc-bigram explode/join/groupBy per serve. Trained fresh
    // per call — no cross-run memoization.
    val collected = graft.core.DriverPool.collectConcurrently(
      () => bigramCounts.collect().map(r => (r.getAs[String]("w1"),
        r.getAs[String]("w2"), r.getAs[Long]("cnt"))): AnyRef,
      () => java.lang.Long.valueOf(vocab.head().getLong(0)): AnyRef)
    val lm = graft.functions.BigramLm(
      collected(0).asInstanceOf[Array[(String, String, Long)]],
      collected(1).asInstanceOf[java.lang.Long].longValue)
    docs
      .select(col(idCol),
        graft.functions.LmExpressions.bigramPpl(
          Text.tokens(col(textCol)), lm).as("_s"))
      .filter(col("_s").isNotNull)
      .select(col(idCol), col("_s.n_bigrams").as("n_bigrams"),
        col("_s.ppl").as("ppl"))
  }

  /** The declarative formulation — retained as the EXECUTABLE SPEC of
    * [[perplexity]]'s semantics (LanguageModelSpec locks the kernel
    * form bit-identical to this plan).
    */
  private[operators] def perplexityHof(docs: DataFrame, idCol: String, textCol: String,
      bigramCounts: DataFrame, vocab: DataFrame): DataFrame = {
    val ctx = bigramCounts.groupBy("w1").agg(sum(col("cnt")).as("_ctx"))
    val db = bigrams(docs, textCol, col(idCol))
    val ll = db
      .join(bigramCounts, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("_ll", bround(log(
        (coalesce(col("cnt"), lit(0L)) + 1L).cast("double") /
          (coalesce(col("_ctx"), lit(0L)) + col("v")).cast("double")), 9))
    ll.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        Exact.davg(col("_ll"), scale = 9).as("_avg"))
      .select(col(idCol), col("n_bigrams"),
        bround(exp(-col("_avg")), 6).as("ppl"))
  }

  /** Per-doc perplexity under an INTERPOLATED KNESER-NEY bigram model
    * (Kneser & Ney, ICASSP 1995; the Chen & Goodman 1998 interpolated
    * form — the smoothing KenLM ships by default, i.e. what CCNet's
    * scorer actually uses):
    *
    *   p(w2|w1) = max(c(w1,w2) − D, 0) / c(w1·)
    *            + (D · N1+(w1·) / c(w1·)) · P_cont(w2)
    *   P_cont(w2) = N1+(·w2) / N1+(··)
    *
    * with D = `discount` (default 0.75 — EXACTLY representable, so
    * the subtraction is one clean IEEE op), N1+(w1·)/N1+(·w2) the
    * distinct-continuation/context counts, and N1+(··) the distinct
    * bigram count. The continuation distribution is what
    * distinguishes KN from Laplace: "Francisco" is frequent but
    * follows only "San", so its unseen-context probability is tiny —
    * the property that makes KN the production choice.
    *
    * Fallbacks: an unseen CONTEXT w1 backs off to P_cont(w2) alone; a
    * token unseen even as a continuation takes the 0.5/N1+(··) floor
    * (keeps ln finite; never hit when scoring the training corpus).
    *
    * Exactness (the q114 discipline): counts exact; the probability
    * is ONE fixed IEEE expression tree over exact-integer casts and
    * the dyadic D; ln rounded 9 dp before the exact DECIMAL mean.
    * Scale shape: identical to [[perplexity]] — three
    * model-sized derived frames (per-context stats, per-continuation
    * stats, one-row total), broadcast; scoring shuffles one row per
    * doc bigram at most.
    *
    * Output: (idCol, n_bigrams BIGINT, ppl DOUBLE rounded 6 dp).
    */
  def perplexityKneserNey(docs: DataFrame, idCol: String, textCol: String,
      bigramCounts: DataFrame, discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount in (0,1), got $discount")
    // ONE model-sized collect (ctx/bwd/nb statistics derive on the
    // driver from the same rows — identical integers), then a
    // stateless kernel projection — replaces FOUR broadcast builds
    // whose subtrees each re-scanned the training corpus per serve
    // (guide §5/§2: the model rides a plan constant, never a join).
    // Declarative form kept below as the executable spec
    // ([[perplexityKneserNeyHof]]; LanguageModelSpec locks equality).
    // Trained fresh per call — no cross-run memoization.
    val lm = graft.functions.KneserNeyLm(
      bigramCounts.collect().map(r => (r.getAs[String]("w1"),
        r.getAs[String]("w2"), r.getAs[Long]("cnt"))))
    docs
      .select(col(idCol),
        graft.functions.LmExpressions.knPpl(
          Text.tokens(col(textCol)), lm, discount).as("_s"))
      .filter(col("_s").isNotNull)
      .select(col(idCol), col("_s.n_bigrams").as("n_bigrams"),
        col("_s.ppl").as("ppl"))
  }

  /** The declarative formulation — retained as the EXECUTABLE SPEC of
    * [[perplexityKneserNey]] (LanguageModelSpec locks the kernel form
    * bit-identical to this plan).
    */
  private[operators] def perplexityKneserNeyHof(docs: DataFrame, idCol: String,
      textCol: String, bigramCounts: DataFrame,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount in (0,1), got $discount")
    val ctx = bigramCounts.groupBy("w1")
      .agg(sum(col("cnt")).as("_ctx"), count(lit(1)).as("_n1f"))
    val bwd = bigramCounts.groupBy("w2").agg(count(lit(1)).as("_n1b"))
    val nb = bigramCounts.agg(count(lit(1)).as("_nb"))
    val db = bigrams(docs, textCol, col(idCol))
    val pc = when(coalesce(col("_n1b"), lit(0L)) > 0,
      col("_n1b").cast("double") / col("_nb").cast("double"))
      .otherwise(lit(0.5) / col("_nb").cast("double"))
    val p = when(col("_ctx").isNotNull,
      greatest(coalesce(col("cnt"), lit(0L)).cast("double") - lit(discount), lit(0.0)) /
        col("_ctx").cast("double") +
        (lit(discount) * col("_n1f").cast("double") / col("_ctx").cast("double")) * pc)
      .otherwise(pc)
    val ll = db
      .join(broadcast(bigramCounts), Seq("w1", "w2"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .join(broadcast(bwd), Seq("w2"), "left")
      .crossJoin(broadcast(nb))
      .withColumn("_ll", bround(log(p), 9))
    ll.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        Exact.davg(col("_ll"), scale = 9).as("_avg"))
      .select(col(idCol), col("n_bigrams"),
        bround(exp(-col("_avg")), 6).as("ppl"))
  }

  private[graft] def trigrams(df: DataFrame, textCol: String, keep: Column*): DataFrame = {
    // kernel pass, same rationale as [[bigrams]]; the former nested
    // zip_with tree is [[trigramsHof]] (executable spec)
    val t = Text.tokens(col(textCol))
    df.select(keep :+ explode(
        graft.functions.NgramExpressions.tokenTriples(t)).as("_p"): _*)
      .select(keep :+ col("_p.w1") :+ col("_p.w2") :+ col("_p.w3"): _*)
  }

  /** EXECUTABLE SPEC for [[trigrams]]'s former formulation. */
  private[graft] def trigramsHof(df: DataFrame, textCol: String,
      keep: Column*): DataFrame = {
    val t = Text.tokens(col(textCol))
    val n = greatest(size(t) - 2, lit(0))
    df.select(keep :+ explode(zip_with(
        zip_with(
          slice(t, lit(1), n),
          slice(t, lit(2), n),
          (a, b) => struct(a.as("w1"), b.as("w2"))),
        slice(t, lit(3), n),
        (p, c) => struct(p.getField("w1").as("w1"), p.getField("w2").as("w2"),
          c.as("w3")))).as("_p"): _*)
      .select(keep :+ col("_p.w1") :+ col("_p.w2") :+ col("_p.w3"): _*)
  }

  /** Train the INTERPOLATED TRIGRAM model (Jelinek & Mercer, 1980 —
    * the λ-mixture of MLE orders that KenLM-class LMs generalize;
    * CCNet's 5-gram is this machinery at order 5). Returns
    * (trigram counts (w1,w2,w3,cnt3), bigram counts (w1,w2,cnt2),
    * unigram counts (w,cnt1), totals — ONE ROW (t tokens, v distinct)).
    * Three map-side-combinable groupBys over the same token stream —
    * shuffle ∝ distinct n-grams, never the corpus; all four frames
    * are model-sized and broadcast at scoring time.
    */
  def trainTrigram(train: DataFrame, textCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val tri = trigrams(train, textCol)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("cnt3"))
    val bi = bigrams(train, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt2"))
    val uniStream = train.select(explode(Text.tokens(col(textCol))).as("w"))
    val uni = uniStream.groupBy("w").agg(count(lit(1)).as("cnt1"))
    val totals = uniStream.agg(count(lit(1)).as("t"), count_distinct(col("w")).as("v"))
    (tri, bi, uni, totals)
  }

  /** Per-doc perplexity under the interpolated trigram model:
    *
    *   p(w3|w1,w2) = λ3·c3(w1,w2,w3)/ctx3(w1,w2)
    *               + λ2·c2(w2,w3)/ctx2(w2)
    *               + λ1·(c1(w3)+1)/(T+V)
    *
    * with ctx3/ctx2 the row-sums of the next-lower-order tables (so
    * each conditional sums to 1 over the vocabulary), unseen higher
    * orders contributing 0, and the Laplace-floored unigram keeping
    * every probability positive. λ = (0.6, 0.3, 0.1) — the standard
    * held-out-tuned shape (higher orders trusted more when present).
    *
    * Exactness (the q114 discipline, one order up): every count is an
    * exact integer; each division is ONE IEEE op over exact inputs;
    * the λ-mix is a fixed expression tree; ln is the only libm call,
    * rounded to 9 dp BEFORE the exact DECIMAL aggregation. Docs with
    * fewer than three tokens have no trigrams and are absent.
    *
    * Output: (idCol, n_trigrams BIGINT, ppl DOUBLE rounded 6 dp).
    */
  def perplexityTrigram(docs: DataFrame, idCol: String, textCol: String,
      tri: DataFrame, bi: DataFrame, uni: DataFrame, totals: DataFrame,
      l3: Double = 0.6, l2: Double = 0.3, l1: Double = 0.1): DataFrame = {
    // THREE model-sized collects (tri/bi/uni; ctx3/ctx2/totals derive
    // on the driver from the same rows — identical integers), then a
    // stateless kernel projection — replaces SIX broadcast builds
    // whose subtrees each re-scanned and re-tokenized the training
    // corpus per serve. Declarative form kept below as the executable
    // spec ([[perplexityTrigramHof]]; LanguageModelSpec locks
    // equality). Trained fresh per call — no cross-run memoization.
    val collected = graft.core.DriverPool.collectConcurrently(
      () => tri.collect().map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[String]("w3"), r.getAs[Long]("cnt3"))): AnyRef,
      () => bi.collect().map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("cnt2"))): AnyRef,
      () => uni.collect().map(r => (r.getAs[String]("w"),
        r.getAs[Long]("cnt1"))): AnyRef)
    val lm = graft.functions.TrigramLm(
      collected(0).asInstanceOf[Array[(String, String, String, Long)]],
      collected(1).asInstanceOf[Array[(String, String, Long)]],
      collected(2).asInstanceOf[Array[(String, Long)]])
    docs
      .select(col(idCol),
        graft.functions.LmExpressions.triPpl(
          Text.tokens(col(textCol)), lm, l3, l2, l1).as("_s"))
      .filter(col("_s").isNotNull)
      .select(col(idCol), col("_s.n_trigrams").as("n_trigrams"),
        col("_s.ppl").as("ppl"))
  }

  /** The declarative formulation — retained as the EXECUTABLE SPEC of
    * [[perplexityTrigram]] (LanguageModelSpec locks the kernel form
    * bit-identical to this plan).
    */
  private[operators] def perplexityTrigramHof(docs: DataFrame, idCol: String,
      textCol: String, tri: DataFrame, bi: DataFrame, uni: DataFrame,
      totals: DataFrame,
      l3: Double = 0.6, l2: Double = 0.3, l1: Double = 0.1): DataFrame = {
    val ctx3 = tri.groupBy("w1", "w2").agg(sum(col("cnt3")).as("_ctx3"))
    val ctx2 = bi.groupBy("w1").agg(sum(col("cnt2")).as("_ctx2"))
    val db = trigrams(docs, textCol, col(idCol))
    val p3 = when(col("_ctx3").isNotNull,
      col("cnt3").cast("double") / col("_ctx3").cast("double")).otherwise(lit(0.0))
    val p2 = when(col("_ctx2w2").isNotNull,
      col("cnt2").cast("double") / col("_ctx2w2").cast("double")).otherwise(lit(0.0))
    val p1 = (coalesce(col("cnt1"), lit(0L)) + 1L).cast("double") /
      (col("t") + col("v")).cast("double")
    val ll = db
      .join(broadcast(tri), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(ctx3), Seq("w1", "w2"), "left")
      .join(broadcast(bi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("cnt2"))), Seq("w2", "w3"), "left")
      .join(broadcast(ctx2.select(col("w1").as("w2"),
        col("_ctx2").as("_ctx2w2"))), Seq("w2"), "left")
      .join(broadcast(uni.withColumnRenamed("w", "w3")), Seq("w3"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("_ll", round(log(
        lit(l3) * coalesce(p3, lit(0.0)) + lit(l2) * coalesce(p2, lit(0.0)) +
          lit(l1) * p1), 9))
    ll.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        Exact.davg(col("_ll"), scale = 9).as("_avg"))
      .select(col(idCol), col("n_trigrams"),
        round(exp(-col("_avg")), 6).as("ppl"))
  }
}
