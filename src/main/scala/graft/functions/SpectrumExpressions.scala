package graft.functions

import java.math.{BigDecimal => JBig, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native kernels for the distributed spectrum moment pass
  * ([[graft.operators.Spectrum]]): the DECIMAL(38,12) quantize-and-sum
  * contract carried as SCALE-12 UNSCALED LONGS.
  *
  * The legacy shape double-posexploded every embedding into n·d(d+1)/2
  * rows (each first-level row copying the full vector) and summed
  * `cast(xᵢ·xⱼ AS DECIMAL(38,12))` — non-compact decimals through the
  * aggregate buffers. Quantizing HERE — the same HALF_UP round over
  * the double's shortest decimal representation that the decimal cast
  * performs, just kept as the unscaled long — makes the aggregate a
  * plain codegen `sum(LONG)` and the explode a single generator over
  * a per-row long array. Bit-equality: Σ of the same integers; the
  * [[dec12ToDouble]] read-back is java.math.BigDecimal.doubleValue
  * — exactly DECIMAL(38,12).cast(double). Callers must pre-check the
  * no-overflow bound n·max(q) < 2⁶² (see
  * [[graft.operators.Spectrum.topComponentModel]]'s guard; the legacy
  * decimal path remains for inputs beyond it).
  */
object SpectrumKernels {

  /** HALF_UP scale-12 unscaled long of a double — the
    * `cast(x AS DECIMAL(38,12))` image for |x| < ~9.2·10⁵.
    */
  def q12(x: Double): Long =
    new JBig(java.lang.Double.toString(x))
      .setScale(12, RoundingMode.HALF_UP).unscaledValue().longValueExact()

  /** Upper-triangle products xᵢ·xⱼ (j ≥ i, row-major in i) of one
    * vector, each quantized at scale 12 — d(d+1)/2 longs.
    */
  def upperTriQ12(v: ArrayData): ArrayData = {
    val d = v.numElements()
    val x = new Array[Double](d)
    var i = 0
    while (i < d) { x(i) = v.getDouble(i); i += 1 }
    val out = new Array[Long](d * (d + 1) / 2)
    var p = 0
    i = 0
    while (i < d) {
      var j = i
      while (j < d) { out(p) = q12(x(i) * x(j)); p += 1; j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Scale-12 unscaled-long → double: BigDecimal.doubleValue, the
    * DECIMAL(38,12) → DOUBLE cast.
    */
  def dec12ToDouble(l: Long): Double = JBig.valueOf(l, 12).doubleValue()

  /** One matvec term: cast(c9 AS DECIMAL(18,9)) · cast(vⱼ AS
    * DECIMAL(18,9)) — both inputs are 9-dp-rounded doubles, so the
    * scale-9 HALF_UP casts are exact and the product is the exact
    * scale-18 decimal, identical to the Spark decimal multiply.
    */
  def c9Term(c9: Double, vj: Double): org.apache.spark.sql.types.Decimal = {
    val a = new JBig(java.lang.Double.toString(c9)).setScale(9, RoundingMode.HALF_UP)
    val b = new JBig(java.lang.Double.toString(vj)).setScale(9, RoundingMode.HALF_UP)
    org.apache.spark.sql.types.Decimal(a.multiply(b), 37, 18)
  }

  /** Matvec term for row `j` (0-based) with the iteration vector `v`
    * carried as a REFERENCE OBJECT, not a literal array: every power
    * iteration then generates byte-identical codegen source (the
    * vector lives in the `references` slot), so Janino's cache
    * compiles the matvec plan ONCE for all iterations — the
    * per-iteration literal-array plan paid a fresh whole-stage compile
    * (~0.3 s) every round.
    */
  def c9DotTerm(c9: Double, j: Int, v: Array[Double]): org.apache.spark.sql.types.Decimal =
    c9Term(c9, v(j))
}

object SpectrumExpressions {
  /** `left` = c9 (DOUBLE), `right` = j (INT, 0-based). */
  def c9DotTerm(c9: Column, j: Column, v: Array[Double]): Column =
    Kernel.column("graft_c9_dot_term", SpectrumKernels, "c9DotTerm", DecimalType(37, 18),
      Seq(c9, j), Seq(DoubleType, IntegerType), Seq(v))
  def upperTriQ12(v: Column): Column =
    Kernel.column("graft_uppertri_q12", SpectrumKernels, "upperTriQ12",
      ArrayType(LongType, containsNull = false), Seq(v), Seq(ArrayType(DoubleType)))
  def q12(v: Column): Column =
    Kernel.column("graft_q12", SpectrumKernels, "q12", LongType, Seq(v), Seq(DoubleType))
  def dec12ToDouble(v: Column): Column =
    Kernel.column("graft_dec12_double", SpectrumKernels, "dec12ToDouble", DoubleType,
      Seq(v), Seq(LongType))
}
