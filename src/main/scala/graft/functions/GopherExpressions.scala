package graft.functions

import java.math.{BigDecimal => JBig, RoundingMode}
import java.util.{HashMap => JMap}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the Gopher Table A1 REPETITION metrics
  * ([[graft.operators.Repetition]], Rae et al. 2021): one pass per
  * document computing every line/paragraph duplicate fraction,
  * top-{2,3,4}-gram char fraction and duplicated-{5..10}-gram char
  * coverage, returned as a single struct.
  *
  * Why native and not HOF (the [[TextKernels]] rationale, amplified):
  * the HOF formulations count gram occurrences with
  * `transform(g, x => size(filter(g, _ === x)))` — interpreted
  * (lambda subtrees are excluded from whole-stage codegen) AND
  * O(G²) per row per gram family (nine families in the full form).
  * This kernel interns tokens and builds each n-gram id from the
  * (n−1)-gram id of the same position plus one token id, so counting
  * is O(G) hash work per family — the quadratic blowup disappears,
  * and with it the reason the shuffle forms existed (a pathological
  * 50k-token document costs ~50k·10 hash probes here, not 2.5×10⁹
  * comparisons). Semantics are bit-identical to the HOF/shuffle
  * formulations kept as executable specs in
  * [[graft.operators.Repetition]] (`RepetitionSpec` locks all three
  * against each other, including unicode, multi-space and
  * empty-segment edge docs):
  *
  *  - lines  = split(text, "\n") — trailing empties KEPT (Java
  *    regex split with limit −1; "" → [""]);
  *  - paragraphs = split(text, "\n\n") with empty segments dropped
  *    (leftmost non-overlapping matches, so "a\n\n\nb" → ["a","\nb"]);
  *  - tokens = single-space split of translate(text, "\n", " ") with
  *    empties dropped ([[TextKernels.tokens]] — split on either byte);
  *  - counts/coverage are exact integers; every emitted fraction is
  *    ONE IEEE division rounded to 6 dp with the Spark `round`
  *    semantic (HALF_UP over the shortest decimal representation);
  *  - tie-break for the top gram is the lexicographically smallest
  *    (UTF8 byte order) among the max-count grams — compared lazily
  *    over the joined-with-space byte stream, no materialization;
  *  - `length` = numChars (code points), matching Spark's `length`.
  */
object GopherKernels {

  // ---- thresholds (single source: graft.operators.Repetition) ------
  // redeclared here privately to avoid a functions→operators cycle;
  // RepetitionSpec asserts the operator constants equal these.
  private val MaxDupLineFrac = 0.30
  private val MaxDupLineCharFrac = 0.20
  private val MaxTop2GramCharFrac = 0.20
  private val MaxDup5GramCharFrac = 0.15
  private val MaxDupParaFrac = 0.30
  private val MaxDupParaCharFrac = 0.20
  private val TopThresholds = Array(0.20, 0.18, 0.16) // n = 2, 3, 4
  private val DupThresholds = Array(0.15, 0.14, 0.13, 0.12, 0.11, 0.10) // n = 5..10

  /** Spark `round(double, 6)`: HALF_UP over Double.toString. */
  private def r6(x: Double): Double =
    new JBig(java.lang.Double.toString(x))
      .setScale(6, RoundingMode.HALF_UP).doubleValue()

  /** numChars of a byte range (count non-continuation bytes) —
    * Spark's `length` on strings.
    */
  private def nChars(b: Array[Byte], off: Int, len: Int): Int = {
    var c = 0; var i = off; val end = off + len
    while (i < end) { if ((b(i) & 0xC0) != 0x80) c += 1; i += 1 }
    c
  }

  /** Offsets/lengths of pieces of `b[0, end)` split on '\n', keeping
    * empties (incl. trailing) — Spark `split(text, "\n")`.
    */
  private def splitLines(b: Array[Byte], end: Int): (Array[Int], Array[Int]) = {
    var n = 1
    var i = 0
    while (i < end) { if (b(i) == '\n') n += 1; i += 1 }
    val offs = new Array[Int](n); val lens = new Array[Int](n)
    var k = 0; var start = 0; i = 0
    while (i < end) {
      if (b(i) == '\n') { offs(k) = start; lens(k) = i - start; k += 1; start = i + 1 }
      i += 1
    }
    offs(k) = start; lens(k) = end - start
    (offs, lens)
  }

  /** Pieces of `b` split on the two-byte "\n\n" (leftmost
    * non-overlapping), empty pieces dropped — Spark
    * `filter(split(text, "\n\n"), p => length(p) > 0)`.
    */
  private def splitParas(b: Array[Byte]): (Array[Int], Array[Int], Int) = {
    val end = b.length
    val offs = new java.util.ArrayList[Integer]()
    val lens = new java.util.ArrayList[Integer]()
    var start = 0; var i = 0
    while (i + 1 < end) {
      if (b(i) == '\n' && b(i + 1) == '\n') {
        if (i > start) { offs.add(start); lens.add(i - start) }
        start = i + 2; i += 2
      } else i += 1
    }
    if (end > start) { offs.add(start); lens.add(end - start) }
    val n = offs.size
    val o = new Array[Int](n); val l = new Array[Int](n)
    i = 0
    while (i < n) { o(i) = offs.get(i); l(i) = lens.get(i); i += 1 }
    (o, l, n)
  }

  /** Tokens of `b[0, end)`: split on ' ' OR '\n' (= tokens of
    * translate(text, "\n", " ")), empties dropped, capped at
    * `maxTokens` kept tokens. Returns (offs, lens, nKept, nAll).
    */
  private def splitTokens(b: Array[Byte], end: Int, maxTokens: Int)
      : (Array[Int], Array[Int], Int, Int) = {
    var nAll = 0
    var i = 0; var start = 0
    while (i <= end) {
      if (i == end || b(i) == ' ' || b(i) == '\n') {
        if (i > start) nAll += 1
        start = i + 1
      }
      i += 1
    }
    val nKeep = math.min(nAll, maxTokens)
    val offs = new Array[Int](nKeep); val lens = new Array[Int](nKeep)
    var k = 0; i = 0; start = 0
    while (i <= end && k < nKeep) {
      if (i == end || b(i) == ' ' || b(i) == '\n') {
        if (i > start) { offs(k) = start; lens(k) = i - start; k += 1 }
        start = i + 1
      }
      i += 1
    }
    (offs, lens, nKeep, nAll)
  }

  /** Duplicate-group metrics over units (lines/paragraphs):
    * (count, r6 excess-copy fraction, r6 whole-group char fraction).
    */
  private def dupMetrics(b: Array[Byte], offs: Array[Int], lens: Array[Int],
      n: Int): (Long, Double, Double) = {
    if (n == 0) return (0L, 0.0, 0.0)
    val groups = new JMap[UTF8String, Array[Long]](n * 2)
    var i = 0
    while (i < n) {
      val s = UTF8String.fromBytes(b, offs(i), lens(i))
      val g = groups.get(s)
      if (g == null) groups.put(s, Array(1L, nChars(b, offs(i), lens(i)).toLong))
      else g(0) += 1
      i += 1
    }
    var total = 0L; var dup = 0L
    val it = groups.values.iterator
    while (it.hasNext) {
      val g = it.next()
      total += g(0) * g(1)
      if (g(0) >= 2) dup += g(0) * g(1)
    }
    (n.toLong,
      r6((n - groups.size).toDouble / n.toDouble),
      if (total > 0) r6(dup.toDouble / total.toDouble) else 0.0)
  }

  /** n-gram ids from the (n−1)-gram ids: id of the window at i is the
    * intern of (prevId(i), tokId(i+n−1)). Returns (ids, #distinct).
    */
  private def extendGrams(prev: Array[Int], tokIds: Array[Int], n: Int)
      : (Array[Int], Int) = {
    val m = tokIds.length - n + 1
    if (m <= 0) return (Array.emptyIntArray, 0)
    val map = new JMap[java.lang.Long, Integer](m * 2)
    val out = new Array[Int](m)
    var next = 0
    var i = 0
    while (i < m) {
      val key = java.lang.Long.valueOf(
        (prev(i).toLong << 32) | (tokIds(i + n - 1).toLong & 0xFFFFFFFFL))
      var id = map.get(key)
      if (id == null) { id = Integer.valueOf(next); map.put(key, id); next += 1 }
      out(i) = id.intValue
      i += 1
    }
    (out, next)
  }

  private def countIds(ids: Array[Int], nIds: Int): Array[Int] = {
    val cnt = new Array[Int](nIds)
    var i = 0
    while (i < ids.length) { cnt(ids(i)) += 1; i += 1 }
    cnt
  }

  /** UTF8-byte-order compare of the joined-with-space grams starting
    * at windows `wa` and `wb` (n tokens each) — lazy byte stream, no
    * allocation; equals UTF8String.compareTo of the joined strings.
    */
  private def compareGram(b: Array[Byte], offs: Array[Int], lens: Array[Int],
      wa: Int, wb: Int, n: Int): Int = {
    var la = n - 1; var lb = n - 1
    var t = 0
    while (t < n) { la += lens(wa + t); lb += lens(wb + t); t += 1 }
    val lim = math.min(la, lb)
    var k = 0
    var tA = 0; var iA = 0; var tB = 0; var iB = 0
    while (k < lim) {
      val ba = if (iA < lens(wa + tA)) { val v = b(offs(wa + tA) + iA) & 0xFF; iA += 1; v }
               else { tA += 1; iA = 0; 0x20 }
      val bb = if (iB < lens(wb + tB)) { val v = b(offs(wb + tB) + iB) & 0xFF; iB += 1; v }
               else { tB += 1; iB = 0; 0x20 }
      if (ba != bb) return ba - bb
      k += 1
    }
    la - lb
  }

  /** top-n-gram char fraction: maxCount · numChars(lex-min max-count
    * gram) / txtChars, 6 dp; 0.0 when no windows.
    */
  private def topFrac(b: Array[Byte], tokOffs: Array[Int], tokLens: Array[Int],
      tokChars: Array[Int], ids: Array[Int], cnt: Array[Int], n: Int,
      txtChars: Int): Double = {
    val m = ids.length
    if (m == 0) return 0.0
    var maxC = 0
    var i = 0
    while (i < m) { val c = cnt(ids(i)); if (c > maxC) maxC = c; i += 1 }
    var best = -1
    i = 0
    while (i < m) {
      if (cnt(ids(i)) == maxC &&
          (best < 0 || (ids(i) != ids(best) &&
            compareGram(b, tokOffs, tokLens, i, best, n) < 0))) best = i
      i += 1
    }
    var gramChars = n - 1
    var t = 0
    while (t < n) { gramChars += tokChars(best + t); t += 1 }
    r6((maxC.toLong * gramChars.toLong).toDouble / txtChars.toDouble)
  }

  /** duplicated-n-gram char COVERAGE (interval union, overlaps once):
    * Σ tokChars over positions covered by any count≥2 window.
    */
  private def dupCovChars(ids: Array[Int], cnt: Array[Int], n: Int,
      tokChars: Array[Int], covered: Array[Boolean]): Long = {
    val m = ids.length
    if (m == 0) return 0L
    java.util.Arrays.fill(covered, false)
    var i = 0
    while (i < m) {
      if (cnt(ids(i)) >= 2) {
        var t = i; val e = i + n
        while (t < e) { covered(t) = true; t += 1 }
      }
      i += 1
    }
    var s = 0L; var p = 0
    while (p < tokChars.length) { if (covered(p)) s += tokChars(p); p += 1 }
    s
  }

  private def dupFrac(cov: Long, tokCharsTotal: Long): Double =
    if (tokCharsTotal > 0) r6(cov.toDouble / tokCharsTotal.toDouble) else 0.0

  // ---- entry points -------------------------------------------------

  /** q198/q199 shape: (n_lines, dup_line_frac, dup_line_char_frac,
    * top_2gram_char_frac, dup_5gram_char_frac, pass).
    */
  def basic(text: UTF8String): InternalRow = {
    val b = text.getBytes
    val (lo, ll) = splitLines(b, b.length)
    val (nLines, dlf, dlcf) = dupMetrics(b, lo, ll, lo.length)
    val (to, tl, nTok, _) = splitTokens(b, b.length, Int.MaxValue)
    val (top2, dup5) = basicGramMetrics(b, to, tl, nTok, nChars(b, 0, b.length))
    val pass = dlf <= MaxDupLineFrac && dlcf <= MaxDupLineCharFrac &&
      top2 <= MaxTop2GramCharFrac && dup5 <= MaxDup5GramCharFrac
    new GenericInternalRow(Array[Any](nLines, dlf, dlcf, top2, dup5, pass))
  }

  /** q205 shape: [[basic]] over the capped prefix (first `maxLines`
    * lines, then the first `maxTokens` tokens of that line-capped
    * text; the top-2-gram denominator is the line-capped text's
    * length) plus the `truncated` flag before `pass`.
    */
  def capped(text: UTF8String, maxTokens: Int, maxLines: Int): InternalRow = {
    val b = text.getBytes
    val (loAll, llAll) = splitLines(b, b.length)
    val nAll = loAll.length
    val nKeep = math.min(nAll, maxLines)
    // lines joined with "\n" = the contiguous prefix of the original
    val txtEnd = loAll(nKeep - 1) + llAll(nKeep - 1)
    val (nLines, dlf, dlcf) = dupMetrics(b, loAll, llAll, nKeep)
    val (to, tl, nTok, nTokAll) = splitTokens(b, txtEnd, maxTokens)
    val (top2, dup5) = basicGramMetrics(b, to, tl, nTok, nChars(b, 0, txtEnd))
    val truncated = nAll > maxLines || nTokAll > maxTokens
    val pass = dlf <= MaxDupLineFrac && dlcf <= MaxDupLineCharFrac &&
      top2 <= MaxTop2GramCharFrac && dup5 <= MaxDup5GramCharFrac
    new GenericInternalRow(Array[Any](nLines, dlf, dlcf, top2, dup5, truncated, pass))
  }

  private def basicGramMetrics(b: Array[Byte], to: Array[Int], tl: Array[Int],
      nTok: Int, txtChars: Int): (Double, Double) = {
    val tokIds = internTokens(b, to, tl, nTok)
    val tokChars = Array.tabulate(nTok)(i => nChars(b, to(i), tl(i)))
    var tokCharsTotal = 0L
    var i = 0
    while (i < nTok) { tokCharsTotal += tokChars(i); i += 1 }
    var prev = tokIds
    var top2 = 0.0
    var dup5 = 0.0
    var n = 2
    while (n <= 5) {
      val (ids, nIds) = extendGrams(prev, tokIds, n)
      if (n == 2) {
        val cnt = countIds(ids, nIds)
        top2 = topFrac(b, to, tl, tokChars, ids, cnt, 2, txtChars)
      } else if (n == 5) {
        val cnt = countIds(ids, nIds)
        val cov = dupCovChars(ids, cnt, 5, tokChars, new Array[Boolean](nTok))
        dup5 = dupFrac(cov, tokCharsTotal)
      }
      prev = ids
      n += 1
    }
    (top2, dup5)
  }

  private def internTokens(b: Array[Byte], to: Array[Int], tl: Array[Int],
      nTok: Int): Array[Int] = {
    val map = new JMap[UTF8String, Integer](nTok * 2)
    val ids = new Array[Int](nTok)
    var next = 0
    var i = 0
    while (i < nTok) {
      val s = UTF8String.fromBytes(b, to(i), tl(i))
      var id = map.get(s)
      if (id == null) { id = Integer.valueOf(next); map.put(s, id); next += 1 }
      ids(i) = id.intValue
      i += 1
    }
    ids
  }

  /** q217/q222 shape: all thirteen Table A1 repetition metrics. */
  def full(text: UTF8String): InternalRow = fullImpl(text)

  /** [[full]] with the loud long-document guard (the reportFullRowwise
    * `maxLines` contract): a doc over the limit fails the job naming
    * the doc and its line count. With the kernel the per-row cost is
    * O(tokens·10), so the guard is a stream-latency bound, not a
    * complexity cliff.
    */
  def fullGuarded(id: UTF8String, text: UTF8String, maxLines: Int): InternalRow = {
    val b = text.getBytes
    var lines = 1
    var i = 0
    while (i < b.length) { if (b(i) == '\n') lines += 1; i += 1 }
    if (lines > maxLines)
      throw new RuntimeException(
        s"reportFullRowwise: document $id has $lines lines > maxLines=$maxLines " +
          "— over the configured per-document stream-latency bound; route the " +
          "corpus to reportFull or raise the guard")
    fullImpl(text)
  }

  private def fullImpl(text: UTF8String): InternalRow = {
    val b = text.getBytes
    val (lo, ll) = splitLines(b, b.length)
    val (nLines, dlf, dlcf) = dupMetrics(b, lo, ll, lo.length)
    val (po, pl, nP) = splitParas(b)
    val (nParas, dpf, dpcf) = dupMetrics(b, po, pl, nP)
    val (to, tl, nTok, _) = splitTokens(b, b.length, Int.MaxValue)
    val txtChars = nChars(b, 0, b.length)
    val tokIds = internTokens(b, to, tl, nTok)
    val tokChars = Array.tabulate(nTok)(i => nChars(b, to(i), tl(i)))
    var tokCharsTotal = 0L
    var i = 0
    while (i < nTok) { tokCharsTotal += tokChars(i); i += 1 }
    val covered = new Array[Boolean](nTok)
    val tops = new Array[Double](3)  // n = 2, 3, 4
    val dups = new Array[Double](6)  // n = 5..10
    var prev = tokIds
    var n = 2
    while (n <= 10) {
      val (ids, nIds) = extendGrams(prev, tokIds, n)
      if (n <= 4) {
        val cnt = countIds(ids, nIds)
        tops(n - 2) = topFrac(b, to, tl, tokChars, ids, cnt, n, txtChars)
      } else {
        val cnt = countIds(ids, nIds)
        dups(n - 5) = dupFrac(
          dupCovChars(ids, cnt, n, tokChars, covered), tokCharsTotal)
      }
      prev = ids
      n += 1
    }
    var pass = dlf <= MaxDupLineFrac && dlcf <= MaxDupLineCharFrac &&
      dpf <= MaxDupParaFrac && dpcf <= MaxDupParaCharFrac
    i = 0
    while (i < 3) { pass &&= tops(i) <= TopThresholds(i); i += 1 }
    i = 0
    while (i < 6) { pass &&= dups(i) <= DupThresholds(i); i += 1 }
    new GenericInternalRow(Array[Any](nLines, dlf, dlcf, nParas, dpf, dpcf,
      tops(0), tops(1), tops(2),
      dups(0), dups(1), dups(2), dups(3), dups(4), dups(5), pass))
  }
}

/** Struct-typed [[Kernel]] wrappers: codegen via one static call, so
  * the projection whole-stage-compiles and the kernel runs once per
  * row.
  */
object GopherExpressions {

  private def metric(name: String, t: DataType = DoubleType) = StructField(name, t)

  val basicType: StructType = StructType(Seq(
    metric("n_lines", LongType), metric("dup_line_frac"),
    metric("dup_line_char_frac"), metric("top_2gram_char_frac"),
    metric("dup_5gram_char_frac"), metric("pass", BooleanType)))

  val cappedType: StructType = StructType(Seq(
    metric("n_lines", LongType), metric("dup_line_frac"),
    metric("dup_line_char_frac"), metric("top_2gram_char_frac"),
    metric("dup_5gram_char_frac"), metric("truncated", BooleanType),
    metric("pass", BooleanType)))

  val fullType: StructType = StructType(Seq(
    metric("n_lines", LongType), metric("dup_line_frac"),
    metric("dup_line_char_frac"), metric("n_paras", LongType),
    metric("dup_para_frac"), metric("dup_para_char_frac"),
    metric("top_2gram_char_frac"), metric("top_3gram_char_frac"),
    metric("top_4gram_char_frac"), metric("dup_5gram_char_frac"),
    metric("dup_6gram_char_frac"), metric("dup_7gram_char_frac"),
    metric("dup_8gram_char_frac"), metric("dup_9gram_char_frac"),
    metric("dup_10gram_char_frac"), metric("pass", BooleanType)))

  def basic(text: Column): Column =
    Kernel.column("graft_gopher_repetition", GopherKernels, "basic", basicType,
      Seq(text), Seq(StringType))
  def capped(text: Column, maxTokens: Int, maxLines: Int): Column =
    Kernel.column("graft_gopher_repetition_capped", GopherKernels, "capped", cappedType,
      Seq(text), Seq(StringType), Seq(maxTokens, maxLines))
  def full(text: Column): Column =
    Kernel.column("graft_gopher_repetition_full", GopherKernels, "full", fullType,
      Seq(text), Seq(StringType))
  /** Guarded full form: `id` = doc id rendered to string (for the loud
    * error).
    */
  def fullGuarded(id: Column, text: Column, maxLines: Int): Column =
    Kernel.column("graft_gopher_repetition_full_guarded", GopherKernels, "fullGuarded",
      fullType, Seq(id, text), Seq(StringType, StringType), Seq(maxLines))
}
