package graft.functions

import java.math.{BigDecimal => JBig, RoundingMode}
import java.util.{HashSet => JSet}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the Gopher Table A1 FORMAT-quality metrics
  * ([[graft.operators.GopherQuality]], Rae et al. 2021) — one O(doc)
  * pass per document computing all eight metrics as a single struct
  * projection.
  *
  * Why native and not HOF (the [[GopherKernels]] rationale): the HOF
  * report evaluates `aggregate`/`filter`/`transform` lambdas
  * (interpreted — lambda subtrees are excluded from whole-stage
  * codegen), a per-token `rlike` regex, an `array_intersect` allocation
  * per row, plus four full-string `translate`/`replace` passes that
  * each materialize a modified copy of the document. This kernel is
  * one byte scan per aspect with zero intermediate strings. Semantics
  * are bit-identical to the HOF formulation, which is kept as the
  * executable spec ([[graft.operators.GopherQuality.reportHof]];
  * `GopherQualitySpec` locks kernel ≡ HOF on adversarial unicode /
  * bullet / ellipsis / case-mapping docs):
  *
  *  - lines  = split(text, "\n"), trailing empties KEPT;
  *  - tokens = split of translate(text, "\n", " ") on ' ', empties
  *    dropped ([[TextKernels.tokens]]);
  *  - word lengths / "…" counts are numChars (code points), matching
  *    Spark `length`;
  *  - "..." is counted by greedy leftmost non-overlapping matching
  *    (the `replace(_txt, '...', '')` length-diff semantic);
  *  - bullet / ellipsis line tests strip only ASCII 0x20 (Spark
  *    `ltrim`/`rtrim` default);
  *  - alpha = token contains ≥ 1 ASCII letter byte (`rlike
  *    "[A-Za-z]"` — multi-byte UTF-8 sequence bytes are ≥ 0x80, so a
  *    byte test is exact);
  *  - stop_hits counts DISTINCT stop words present among
  *    `UTF8String.toLowerCase`-folded tokens — the exact `lower()`
  *    fold Spark applies (UTF8_BINARY collation path), so Kelvin-sign
  *    and dotted-İ edge tokens fold identically to the HOF form.
  *    Lowercasing never shrinks the code-point count, so tokens
  *    longer (in chars) than the longest stop word are skipped
  *    without folding;
  *  - every ratio is ONE IEEE division of exact integer counts
  *    rounded 6 dp (HALF_UP over the shortest decimal repr — Spark
  *    `round`).
  */
object QualityKernels {

  /** Spark `round(double, 6)`: HALF_UP over Double.toString. */
  private def r6(x: Double): Double =
    new JBig(java.lang.Double.toString(x))
      .setScale(6, RoundingMode.HALF_UP).doubleValue()

  def gopherFormat(text: UTF8String, stopWords: JSet[UTF8String],
      maxStopChars: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val b = text.getBytes
    val n = b.length

    // ---- one pass: lines (kept-empty split on '\n') ------------------
    var nLines = 1L
    var bulletLines = 0L
    var ellLines = 0L
    var lineStart = 0
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == '\n') {
        // strip ASCII spaces from both ends (ltrim/rtrim semantics;
        // the two tests are independent in the HOF form)
        var ls = lineStart
        while (ls < i && b(ls) == ' ') ls += 1
        val ll = i - ls
        if (ll >= 2 && b(ls + 1) == ' ' && (b(ls) == '-' || b(ls) == '*'))
          bulletLines += 1
        else if (ll >= 4 && (b(ls) & 0xFF) == 0xE2 && (b(ls + 1) & 0xFF) == 0x80 &&
            (b(ls + 2) & 0xFF) == 0xA2 && b(ls + 3) == ' ')
          bulletLines += 1
        var re = i
        while (re > lineStart && b(re - 1) == ' ') re -= 1
        if (re - lineStart >= 3) {
          if (b(re - 1) == '.' && b(re - 2) == '.' && b(re - 3) == '.')
            ellLines += 1
          else if ((b(re - 1) & 0xFF) == 0xA6 && (b(re - 2) & 0xFF) == 0x80 &&
              (b(re - 3) & 0xFF) == 0xE2)
            ellLines += 1
        }
        if (i < n) nLines += 1
        lineStart = i + 1
      }
      i += 1
    }

    // ---- one pass: '#', greedy "...", "…" ----------------------------
    var hashes = 0L
    var dots3 = 0L
    var uniEll = 0L
    i = 0
    while (i < n) {
      val c = b(i)
      if (c == '#') { hashes += 1; i += 1 }
      else if (c == '.' && i + 2 < n && b(i + 1) == '.' && b(i + 2) == '.') {
        dots3 += 1; i += 3
      } else if ((c & 0xFF) == 0xE2 && i + 2 < n && (b(i + 1) & 0xFF) == 0x80 &&
          (b(i + 2) & 0xFF) == 0xA6) {
        uniEll += 1; i += 3
      } else i += 1
    }

    // ---- one pass: tokens (split on ' ' or '\n', empties dropped) ----
    var nWords = 0L
    var tokChars = 0L
    var alphaWords = 0L
    val hit = new JSet[UTF8String](stopWords.size * 2)
    var tokStart = 0
    i = 0
    while (i <= n) {
      if (i == n || b(i) == ' ' || b(i) == '\n') {
        if (i > tokStart) {
          nWords += 1
          // numChars: count non-continuation bytes
          var chars = 0
          var hasAlpha = false
          var j = tokStart
          while (j < i) {
            val v = b(j) & 0xFF
            if ((v & 0xC0) != 0x80) chars += 1
            if ((v >= 'A' && v <= 'Z') || (v >= 'a' && v <= 'z')) hasAlpha = true
            j += 1
          }
          tokChars += chars
          if (hasAlpha) alphaWords += 1
          if (chars <= maxStopChars) {
            val lower = UTF8String.fromBytes(b, tokStart, i - tokStart)
              .toLowerCase
            if (stopWords.contains(lower)) hit.add(lower)
          }
        }
        tokStart = i + 1
      }
      i += 1
    }
    val stopHits = hit.size.toLong

    val ellipses = dots3 + uniEll
    def perWord(c: Long): Double =
      if (nWords > 0) r6(c.toDouble / nWords.toDouble) else 0.0
    def perLine(c: Long): Double =
      if (nLines > 0) r6(c.toDouble / nLines.toDouble) else 0.0

    new GenericInternalRow(Array[Any](
      nWords,
      perWord(tokChars),
      perWord(hashes),
      perWord(ellipses),
      perLine(bulletLines),
      perLine(ellLines),
      perWord(alphaWords),
      stopHits))
  }

  def toSet(words: Seq[String]): JSet[UTF8String] = {
    val s = new JSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
}

object QualityExpressions {

  private def metric(name: String, t: DataType = DoubleType) = StructField(name, t)

  val formatType: StructType = StructType(Seq(
    metric("n_words", LongType), metric("mean_word_len"),
    metric("hash_word_ratio"), metric("ellipsis_word_ratio"),
    metric("bullet_line_frac"), metric("ellipsis_line_frac"),
    metric("alpha_word_frac"), metric("stop_hits", LongType)))

  /** The stop-word list rides as an object-typed plan constant. */
  def gopherFormat(text: Column, stopWords: Seq[String]): Column = {
    // lowercasing never shrinks the code-point count, so tokens longer
    // than the longest stop word can never fold into one — skip them
    val maxStopChars =
      if (stopWords.isEmpty) 0
      else stopWords.map(w => w.codePointCount(0, w.length)).max
    Kernel.column("graft_gopher_format", QualityKernels, "gopherFormat", formatType,
      Seq(text), Seq(StringType), Seq(QualityKernels.toSet(stopWords), maxStopChars))
  }
}
