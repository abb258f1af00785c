package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{SubsampleExpressions, SubsampleKernel, TextExpressions}

/** Frequency-aware token subsampling over a corpus — the word2vec
  * down-sampling stage (Mikolov NeurIPS 2013 §2.3) as a two-phase
  * Spark operator:
  *
  *  1. FIT: one explode+groupBy builds the vocabulary-sized frequency
  *     table; the per-word keep thresholds `sqrt(t · total / cnt)`
  *     are computed on the driver and become an object-typed
  *     plan constant (model-sized by Heaps' law — the BPE-merge /
  *     WordPiece-inventory collect precedent).
  *  2. APPLY: a pure per-row projection ([[graft.functions
  *     .SubsampleKernel]]) — each occurrence draws its deterministic
  *     uniform from md5-48(seed:doc:pos) and survives iff under its
  *     word's threshold. No explode, no join, no reassembly shuffle:
  *     the token stream never leaves its partition, which is the
  *     difference between "one vocab aggregation" and "re-shuffling
  *     the whole 100 TB token stream to glue texts back together".
  */
object Subsample {

  /** Adds `sub_text`, `n_kept`, `n_tokens`. `t` is the word2vec
    * frequency threshold (occurrences of words rarer than t·total
    * always survive).
    */
  def subsampleCorpus(df: DataFrame, idCol: String, textCol: String,
      seed: String, t: Double = 1e-3): DataFrame =
    applyModel(df, idCol, textCol, fitModel(df, textCol, seed, t))

  /** The FIT phase alone: one vocab-sized aggregation + driver
    * thresholds — hand the model to streaming consumers (the q115
    * trained-model deployment shape).
    */
  def fitModel(df: DataFrame, textCol: String, seed: String,
      t: Double = 1e-3): SubsampleKernel.Model = {
    require(t > 0, s"threshold must be positive, got $t")
    val freqs = df
      .select(explode(TextExpressions.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .collect() // vocabulary-sized (Heaps' law), model precedent
    val total = freqs.iterator.map(_.getLong(1)).sum
    val words = freqs.map(_.getString(0))
    val thrs = freqs.map(r => math.sqrt(t * total / r.getLong(1)))
    SubsampleKernel.toModel(seed, words, thrs)
  }

  /** The APPLY phase alone — a stateless per-row projection, equally
    * valid over a batch or `readStream` relation.
    */
  def applyModel(df: DataFrame, idCol: String, textCol: String,
      model: SubsampleKernel.Model): DataFrame =
    df.withColumn("_s", SubsampleExpressions.subsample(
        col(textCol), col(idCol).cast("string"), model))
      .withColumn("sub_text", col("_s.sub_text"))
      .withColumn("n_kept", col("_s.n_kept"))
      .withColumn("n_tokens", col("_s.n_tokens"))
      .drop("_s")
}
