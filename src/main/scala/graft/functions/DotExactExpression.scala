package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native kernel for the deterministic (decimal-quantized) dot
  * product behind `Similarity.dotExact`.
  *
  * Exactness contract: each float·float product is widened to double
  * (exact), quantized to scale 12 via Spark's OWN `Decimal` conversion
  * (`Decimal(d).changePrecision(18,12)` — the same code path as
  * `CAST(x AS DECIMAL(18,12))`), and the quantized values are summed
  * as unscaled longs (exact integer arithmetic, |Σ| < 2⁶³ for any
  * realistic embedding). The result is therefore bit-identical to the
  * HOF decimal-aggregate formulation at ANY parallelism and matches
  * the DuckDB oracle — just without a BigDecimal accumulator object
  * per element.
  */
object DotExactKernel {

  /** Sentinel for "element does not fit DECIMAL(18,12) — skip", the
    * behavior of the original `if (changePrecision) sum +=` form. A
    * real unscaled value is bounded by |v| < 10^18 < 2^63, so
    * Long.MinValue can never collide with a legitimate result.
    */
  private final val Skip = Long.MinValue

  /** `Decimal(p).changePrecision(18,12).toUnscaledLong` — Spark's
    * Decimal(Double) constructor goes through
    * `java.lang.Double.toString` + BigDecimal PARSE (≈1 µs per call),
    * which at one call per vector ELEMENT dominated the whole
    * assignment stage (profiled: q55's 773 ms map stage was ~90%
    * FloatingDecimal/BigDecimal). The quantization target is the
    * HALF_UP rounding of p's SHORTEST DECIMAL REPRESENTATION (that is
    * what the string path rounds — not the exact binary value), so the
    * fast path may only answer when both agree provably:
    *
    *  - q = p·10¹² in double; the true target t = s·10¹² where s is
    *    the real value of Double.toString(p). |q − t| ≤
    *    0.5·ulp(p)·10¹² (shortest-repr round-trip bound) +
    *    0.5·ulp(q) (the multiply's rounding).
    *  - If the fractional part of |q| is more than that margin away
    *    from the HALF_UP boundary (.5), floor/ceil of |q| equals the
    *    string path's result — answer with pure integer math.
    *  - Inside the margin (≈1 in 10⁴ for unit-scale inputs), or on
    *    magnitude overflow / NaN / ±Inf, fall back to the ORIGINAL
    *    Spark Decimal path, preserving bit-identical results and the
    *    original exception behavior. `DotExactQuantSpec` hammers the
    *    equivalence including adversarial near-boundary values.
    */
  private[functions] def quantUnscaledOrSkip(p: Double): Long = {
    val q = p * 1e12
    val aq = math.abs(q)
    // 4.6e17 < 10^18 (precision-18 cap) and < 2^63; above it the
    // original path either still fits (4.6e17..1e18 — rare, slow path
    // handles it) or skips
    if (aq < 4.6e17) {
      val fl = math.floor(aq) // exact: fl and aq within a factor of 2
      val frac = aq - fl      // exact by Sterbenz
      val margin = 5.1e11 * math.ulp(p) + 0.51 * math.ulp(aq) + 1e-18
      val k =
        if (frac > 0.5 + margin) fl + 1.0
        else if (frac < 0.5 - margin) fl
        else return quantSlow(p)
      if (q < 0) -k.toLong else k.toLong
    } else quantSlow(p)
  }

  /** The original (string-parsing) quantization — the semantics of
    * record; the fast path must provably agree or defer here.
    */
  private[functions] def quantSlow(p: Double): Long = {
    val d = Decimal(p)
    if (d.changePrecision(18, 12)) d.toUnscaledLong else Skip
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var sumUnscaled = 0L
    var i = 0
    while (i < n) {
      val p = a.getFloat(i).toDouble * b.getFloat(i).toDouble
      val u = quantUnscaledOrSkip(p)
      if (u != Skip) sumUnscaled += u
      i += 1
    }
    Decimal(sumUnscaled, 38, 12).toDouble
  }

  /** [[dot]] over ARRAY<DOUBLE> inputs (already-centered vectors, the
    * [[graft.operators.Spectrum]] residual path): IEEE double product,
    * then the identical quantize-at-12-and-sum-exactly contract — the
    * oracle form is `CAST(a[i] * b[i] AS DECIMAL(18,12))` summed.
    */
  def dotD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var sumUnscaled = 0L
    var i = 0
    while (i < n) {
      val p = a.getDouble(i) * b.getDouble(i)
      val u = quantUnscaledOrSkip(p)
      if (u != Skip) sumUnscaled += u
      i += 1
    }
    Decimal(sumUnscaled, 38, 12).toDouble
  }
}

/** Plain double dot product as a native loop — same left-to-right
  * fold order as the HOF `aggregate(zip_with(...), 0.0, _+_)`
  * formulation, so results are bit-identical (unit-tested), minus the
  * per-element lambda dispatch.
  */
object DotFastKernel {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }
}

object DotExactExpression {
  private val floats = ArrayType(FloatType)

  def dotExact(a: Column, b: Column): Column =
    Kernel.column("graft_dot_exact", DotExactKernel, "dot", DoubleType,
      Seq(a, b), Seq(floats, floats))
  def dotExactD(a: Column, b: Column): Column =
    Kernel.column("graft_dot_exact_d", DotExactKernel, "dotD", DoubleType,
      Seq(a, b), Seq(ArrayType(DoubleType), ArrayType(DoubleType)))
  def dotFast(a: Column, b: Column): Column =
    Kernel.column("graft_dot", DotFastKernel, "dot", DoubleType,
      Seq(a, b), Seq(floats, floats))
}
