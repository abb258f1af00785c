package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language-ID
  * heuristic, and document fingerprinting.
  *
  * Everything is a pure Catalyst `Column` expression (codegen'd — no
  * UDFs), and every formula is also expressible in ANSI/DuckDB SQL so
  * each gets a full oracle-checked correctness entry. Character classes
  * are explicit ASCII ranges so the regex means the same thing in
  * Java's engine and RE2.
  */
object Text {

  /** Whitespace tokens, empties dropped (split on single spaces — the
    * corpus is single-space separated; for arbitrary text compose with
    * a whitespace-normalizing `regexp_replace` first). Native kernel:
    * lambda-free, so whole-stage codegen's subexpression elimination
    * evaluates ONE shared token array per row however many metrics
    * reference it (HOF lambdas are CSE-excluded). [[tokensHof]] is the
    * executable spec it is tested bit-identical against.
    */
  def tokens(c: Column): Column = TextExpressions.tokens(c)

  /** Composable formulation of [[tokens]]. */
  def tokensHof(c: Column): Column =
    filter(split(c, " "), t => length(t) > 0)

  /** Characters matching a codepoint-class regex (e.g. a Unicode
    * script block `[Ѐ-ӿ]`) — length minus the length with
    * the class removed, all codegen'd built-ins. Both `length`s count
    * CODEPOINTS (UTF8String.numChars), matching DuckDB's `length`, so
    * script profiles cross-check engine-exactly for BMP scripts.
    */
  def charClassCount(c: Column, classRegex: String): Column =
    (length(c) - length(regexp_replace(c, classRegex, ""))).cast("long")

  /** Canonical text for content identity: Unicode NFC (native
    * [[NfcKernel]] kernel) → lowercase → whitespace runs collapsed
    * to one space → trim. The normalization a multilingual corpus
    * applies BEFORE hash dedup — precomposed/decomposed accents, case
    * and spacing variants of the same text all canonicalize to one
    * byte sequence. Every step is codegen'd (the NFC kernel has a
    * zero-allocation fast path for already-normalized text); order is
    * fixed (NFC first) and mirrored by the q88 oracle.
    */
  def canonical(c: Column): Column =
    trim(regexp_replace(lower(NormExpressions.nfc(c)), "[ \\t\\n\\r]+", " "))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish token count: runs of alphanumerics count 1 per ≤4 chars
    * (a rough subword rate), plus 1 per non-alphanumeric non-space
    * symbol. A cheap, deterministic stand-in for a real tokenizer's
    * token count at corpus-statistics scale.
    */
  def bpeishTokenCount(c: Column): Column =
    aggregate(
      transform(regexp_extract_all(c, lit("[A-Za-z0-9]+|[^A-Za-z0-9 ]"), lit(0)),
        m => ceil(length(m).cast("double") / 4.0).cast("long")),
      lit(0L), (acc, x) => acc + x)

  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that", "for", "on")

  def stopwordCount(c: Column): Column =
    TextExpressions.countIn(tokens(c), Stopwords)

  def stopwordRatio(c: Column): Column =
    stopwordCount(c).cast("double") / greatest(tokenCount(c), lit(1)).cast("double")

  def punctCount(c: Column): Column = regexp_count(c, lit("[.,;:!?]"))

  def punctRatio(c: Column): Column =
    punctCount(c).cast("double") / greatest(length(c), lit(1)).cast("double")

  def meanWordLen(c: Column): Column =
    length(regexp_replace(c, " ", "")).cast("double") /
      greatest(tokenCount(c), lit(1)).cast("double")

  /** Composite quality score in [0,1]: rewards stopword presence and
    * mid-length words, penalizes punctuation soup and very short docs.
    * Deterministic linear blend, clamped.
    */
  def qualityScore(c: Column): Column =
    least(lit(1.0), greatest(lit(0.0),
      lit(0.2)
        + lit(2.0) * stopwordRatio(c)
        - lit(3.0) * punctRatio(c)
        + lit(0.05) * least(meanWordLen(c), lit(8.0))
        + when(length(c) >= 200, 0.1).otherwise(0.0)))

  /** Marker stopwords per language for the n-gram(1) language-ID
    * heuristic.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "to"),
    "de" -> Seq("der", "und", "die", "ist", "das"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "es" -> Seq("el", "los", "y", "es", "las"),
  )

  def langScore(c: Column, markers: Seq[String]): Column =
    TextExpressions.countIn(tokens(c), markers)

  /** Language-ID: argmax of marker-word hits with a fixed priority
    * order (en > de > fr > es) on ties; 'und' (undetermined) when no
    * marker hits at all.
    */
  def langId(c: Column): Column = {
    val scores = LangMarkers.map { case (l, ms) => l -> langScore(c, ms) }
    val total = scores.map(_._2).reduce(_ + _)
    // argmax, first-listed language wins ties (en > de > fr > es)
    val best = scores.zipWithIndex.init.foldRight(lit(scores.last._1)) {
      case (((l, s), i), els) =>
        val laterScores = scores.drop(i + 1).map(_._2)
        when(laterScores.map(s >= _).reduce(_ && _), l).otherwise(els)
    }
    when(total === 0, "und").otherwise(best)
  }

  /** Position-weighted rolling checksum fingerprint:
    * `Σ_i code(c_i)·((i mod 31)+1)  mod  2^31−1` (i is 1-based).
    * Bounded intermediate (≤ len·255·31 « 2^63) so the same arithmetic
    * runs overflow-free on any engine — a cheap shardable stand-in for
    * content-defined chunk hashes.
    */
  def fingerprint(c: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(c)),
        i => ascii(c.substr(i, lit(1))).cast("long") * ((i % 31) + 1).cast("long")),
      lit(0L), (acc, x) => acc + x) % 2147483647L
}
