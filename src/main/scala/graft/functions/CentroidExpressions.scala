package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native kernels for centroid-model distance work
  * ([[graft.operators.Similarity]]: Lloyd's k-means, IVF cell
  * assignment, PQ encode/serve). The HOF formulations build one
  * `aggregate(zip_with(vec, lit(centroid), …))` PER CENTROID/CODEWORD
  * — interpreted per element (lambda subtrees are excluded from
  * whole-stage codegen) and, because the centroids enter as literals,
  * every training iteration plans + codegens a FRESH k-lambda tree.
  * These kernels take the model as a REFERENCE OBJECT: one static
  * call per row, byte-identical generated source across iterations
  * (Janino cache hit), O(k·d) primitive flops.
  *
  * Bit-identity contracts (all spec-locked against the HOF forms):
  *  - fold order matches the HOF `aggregate` exactly (sequential over
  *    dims, then over subspaces);
  *  - float elements widen to double before subtract/multiply (the
  *    `x.cast("double")` image);
  *  - exact distances quantize each (xᵢ−cᵢ)² at scale 12 through
  *    [[DotExactKernel.quantUnscaledOrSkip]] — the same provably-
  *    agreeing fast path as the dot kernels — and sum unscaled longs;
  *  - argmins tie to the FIRST index (= `array_position(dists,
  *    array_min(dists))`), with null (length-mismatch) entries
  *    skipped, as array_min/array_position skip nulls.
  */
object CentroidKernels {

  @inline private def elem(v: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** Squared euclidean distances to every centroid: array<double>,
    * null entry on length mismatch (the zip_with null-propagation
    * image).
    */
  def dists(v: ArrayData, isFloat: Boolean,
      cents: Array[Array[Double]]): ArrayData = {
    val k = cents.length
    val n = v.numElements()
    val out = new Array[Any](k)
    var c = 0
    while (c < k) {
      val w = cents(c)
      if (w.length != n) out(c) = null
      else {
        var s = 0.0
        var i = 0
        while (i < n) { val t = elem(v, i, isFloat) - w(i); s += t * t; i += 1 }
        out(c) = java.lang.Double.valueOf(s)
      }
      c += 1
    }
    new GenericArrayData(out)
  }

  /** First-occurrence argmin cell (null when no centroid matches the
    * vector's length) — `(array_position(d, array_min(d)) - 1)`.
    */
  def nearest(v: ArrayData, isFloat: Boolean,
      cents: Array[Array[Double]]): java.lang.Integer = {
    val k = cents.length
    val n = v.numElements()
    var best = -1
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < k) {
      val w = cents(c)
      if (w.length == n) {
        var s = 0.0
        var i = 0
        while (i < n) { val t = elem(v, i, isFloat) - w(i); s += t * t; i += 1 }
        // Double.compare, not `<`: a NaN distance must never win (and
        // never freeze the seed slot) — array_min's NaN-is-greatest
        // ordering, so a NaN-carrying vector gets the smallest FINITE
        // distance like the HOF spec (ADVICE r21)
        if (best < 0 || java.lang.Double.compare(s, bestD) < 0) { best = c; bestD = s }
      }
      c += 1
    }
    if (best < 0) null else java.lang.Integer.valueOf(best)
  }

  /** First-occurrence argmin cell under the DECIMAL-EXACT distance
    * (scale-12 quantized terms, exact long sums): the value the
    * epsilon-banded fast-prune + exact-refine pipeline converges to —
    * with a native kernel the k·d exact quantizations per row are
    * cheap enough to skip the banding (and its posexplode + argmin
    * exchange) entirely. Ties resolve to the LOWEST cell, the
    * `min(struct(dist, cell))` image. Null on length mismatch.
    *
    * Documented divergence from the HOF spec OUTSIDE the spec-locked
    * input range (ADVICE r21): a term with |x−c| ≥ ~10³ overflows
    * DECIMAL(18,12) and THROWS ArithmeticException here, where the
    * HOF distExactDecimal produced a null term → null distance that
    * the argmin silently skipped. Loud beats silent — callers feeding
    * unbounded coordinates must pre-validate ranges.
    */
  def nearestExact(v: ArrayData, isFloat: Boolean,
      cents: Array[Array[Double]]): java.lang.Integer = {
    val k = cents.length
    val n = v.numElements()
    var best = -1
    var bestL = Long.MaxValue
    var c = 0
    while (c < k) {
      val w = cents(c)
      if (w.length == n) {
        var s = 0L
        var i = 0
        while (i < n) {
          val t = elem(v, i, isFloat) - w(i)
          val u = DotExactKernel.quantUnscaledOrSkip(t * t)
          if (u == Long.MinValue) {
            val d = Decimal(t * t)
            if (!d.changePrecision(18, 12))
              throw new ArithmeticException(
                s"nearestExact: (x-c)^2 = ${t * t} does not fit DECIMAL(18,12)")
            s += d.toUnscaledLong
          } else s += u
          i += 1
        }
        if (best < 0 || s < bestL) { best = c; bestL = s }
      }
      c += 1
    }
    if (best < 0) null else java.lang.Integer.valueOf(best)
  }

  /** Decimal-exact squared distance to centroid `idx`: each (xᵢ−cᵢ)²
    * quantized at scale 12, summed as unscaled longs →
    * DECIMAL(28,12). An element that cannot fit DECIMAL(18,12) (the
    * cast-overflow case — needs |xᵢ−cᵢ| ≥ 10³) takes the original
    * Spark Decimal path, which throws like the ANSI cast would.
    */
  def distExactSel(v: ArrayData, isFloat: Boolean, idx: Int,
      cents: Array[Array[Double]]): Decimal = {
    val w = cents(idx)
    val n = v.numElements()
    if (w.length != n) return null
    var sum = 0L
    var i = 0
    while (i < n) {
      val t = elem(v, i, isFloat) - w(i)
      val u = DotExactKernel.quantUnscaledOrSkip(t * t)
      if (u == Long.MinValue) {
        val d = Decimal(t * t)
        if (!d.changePrecision(18, 12))
          throw new ArithmeticException(
            s"distExactSel: (x-c)^2 = ${t * t} does not fit DECIMAL(18,12)")
        sum += d.toUnscaledLong
      } else sum += u
      i += 1
    }
    Decimal(sum, 28, 12)
  }

  /** PQ ADC lookup table: lut(j·ks + c) = sub-vector j · codeword c —
    * m·ks doubles per row, null entry when the vector is too short
    * for subspace j (the slice/zip_with null image).
    */
  def pqLut(v: ArrayData, isFloat: Boolean,
      books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    val ks = books(0).length
    val ds = books(0)(0).length
    val n = v.numElements()
    val out = new Array[Any](m * ks)
    var j = 0
    while (j < m) {
      val off = j * ds
      val ok = off + ds <= n
      var c = 0
      while (c < ks) {
        if (!ok) out(j * ks + c) = null
        else {
          val w = books(j)(c)
          var s = 0.0
          var i = 0
          while (i < ds) { s += elem(v, off + i, isFloat) * w(i); i += 1 }
          out(j * ks + c) = java.lang.Double.valueOf(s)
        }
        c += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Decimal-exact PQ ADC lookup table: each entry is
    * Σᵢ quant12(subⱼ(i)·codeword(i)) summed as unscaled longs, read
    * back through DECIMAL(38,12)→double — the
    * `dotExactHof(slice(v,…), lit(codeword))` image (same skip
    * convention as [[DotExactKernel]]).
    */
  def pqLutExact(v: ArrayData, isFloat: Boolean,
      books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    val ks = books(0).length
    val ds = books(0)(0).length
    val n = v.numElements()
    val out = new Array[Any](m * ks)
    var j = 0
    while (j < m) {
      val off = j * ds
      val ok = off + ds <= n
      var c = 0
      while (c < ks) {
        if (!ok) out(j * ks + c) = null
        else {
          val w = books(j)(c)
          var s = 0L
          var i = 0
          while (i < ds) {
            val u = DotExactKernel.quantUnscaledOrSkip(elem(v, off + i, isFloat) * w(i))
            if (u != Long.MinValue) s += u
            i += 1
          }
          out(j * ks + c) = java.lang.Double.valueOf(Decimal(s, 38, 12).toDouble)
        }
        c += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** PQ code assignment: codes(j) = first-occurrence argmin codeword
    * of sub-vector j. `exact` compares scale-12 quantized exact
    * distances (the decimal argmin image); plain compares doubles.
    */
  def pqAssign(v: ArrayData, isFloat: Boolean, exact: Boolean,
      books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    val ks = books(0).length
    val ds = books(0)(0).length
    val n = v.numElements()
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val off = j * ds
      require(off + ds <= n,
        s"pqAssign: vector has $n elements, subspace $j needs ${off + ds}")
      var best = 0
      var bestD = Double.PositiveInfinity
      var bestL = Long.MaxValue
      var c = 0
      while (c < ks) {
        val w = books(j)(c)
        if (exact) {
          var s = 0L
          var i = 0
          while (i < ds) {
            val t = elem(v, off + i, isFloat) - w(i)
            val u = DotExactKernel.quantUnscaledOrSkip(t * t)
            if (u == Long.MinValue) {
              val d = Decimal(t * t)
              if (!d.changePrecision(18, 12))
                throw new ArithmeticException(
                  s"pqAssign: (x-c)^2 = ${t * t} does not fit DECIMAL(18,12)")
              s += d.toUnscaledLong
            } else s += u
            i += 1
          }
          if (c == 0 || s < bestL) { best = c; bestL = s }
        } else {
          var s = 0.0
          var i = 0
          while (i < ds) {
            val t = elem(v, off + i, isFloat) - w(i); s += t * t; i += 1
          }
          if (c == 0 || s < bestD) { best = c; bestD = s }
        }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  /** The exact ADC dot estimate:
    * Σⱼ CAST(lut[j·ks + codesⱼ + 1] AS DECIMAL(20,12)) + CAST(extra AS
    * DECIMAL(20,12)), read back through one decimal→double cast — the
    * per-candidate decimal expression tree of
    * [[graft.operators.Similarity.pqAdcRank]] /
    * `pqIvfRankFromCodes` as ONE scalar pass (`extra` is the residual
    * path's qc·dot term; the non-residual call sites pass 0.0, which
    * adds an exact zero — value-identical). Each term is an exact
    * 12-dp value living in a double (the pqLutExact/dotExact
    * contract); the fast path recovers its unscaled scale-12 long via
    * [[DotExactKernel.quantUnscaledOrSkip]] (provably the cast's own
    * HALF_UP rounding or a deferral) and sums exactly; any deferral
    * or overflow falls back to the original Spark Decimal arithmetic
    * term by term. NULL when an accessed LUT entry is null (the
    * decimal Add's null image); throws on a value that cannot fit
    * DECIMAL(20,12), exactly like the ANSI cast it replaces.
    */
  def adcEstDot(codes: ArrayData, lut: ArrayData, ks: Int, m: Int,
      extra: Double): java.lang.Double = {
    val nl = lut.numElements()
    val vals = new Array[Double](m + 1)
    var j = 0
    while (j < m) {
      if (j >= codes.numElements())
        throw new ArrayIndexOutOfBoundsException(
          s"adcEstDot: codes has ${codes.numElements()} elements, need $m")
      if (codes.isNullAt(j)) return null
      val idx = j * ks + codes.getInt(j)
      if (idx < 0 || idx >= nl)
        throw new ArrayIndexOutOfBoundsException(
          s"adcEstDot: LUT index ${idx + 1} outside [1, $nl]")
      if (lut.isNullAt(idx)) return null
      vals(j) = lut.getDouble(idx)
      j += 1
    }
    vals(m) = extra
    var sum = 0L
    var slow = false
    var i = 0
    while (i < vals.length && !slow) {
      val u = DotExactKernel.quantUnscaledOrSkip(vals(i))
      if (u == Long.MinValue) slow = true
      else {
        val s2 = sum + u
        // two's-complement overflow test; unreachable for |Σ|<2^63/10^12
        if (((sum ^ s2) & (u ^ s2)) < 0L) slow = true else sum = s2
      }
      i += 1
    }
    if (!slow) return java.lang.Double.valueOf(Decimal(sum, 38, 12).toDouble)
    var acc = java.math.BigDecimal.ZERO
    i = 0
    while (i < vals.length) {
      val d = Decimal(vals(i))
      if (!d.changePrecision(20, 12))
        throw new ArithmeticException(
          s"adcEstDot: ${vals(i)} does not fit DECIMAL(20,12)")
      acc = acc.add(d.toJavaBigDecimal)
      i += 1
    }
    java.lang.Double.valueOf(acc.doubleValue())
  }

  /** Σⱼ ‖subⱼ − codeword(codesⱼ)‖² (plain double, sequential over j —
    * the `(0 until m).map(resid2).reduce(_ + _)` image).
    */
  def pqResid2(v: ArrayData, isFloat: Boolean, codes: ArrayData,
      books: Array[Array[Array[Double]]]): Double = {
    val m = books.length
    val ds = books(0)(0).length
    var total = 0.0
    var j = 0
    while (j < m) {
      val w = books(j)(codes.getInt(j))
      val off = j * ds
      var s = 0.0
      var i = 0
      while (i < ds) { val t = elem(v, off + i, isFloat) - w(i); s += t * t; i += 1 }
      total += s
      j += 1
    }
    total
  }
}

/** Column API: each centroid kernel reads an `ARRAY<FLOAT>` or
  * `ARRAY<DOUBLE>` vector; [[Kernel.IsFloat]] passes which one the
  * plan resolved.
  */
object CentroidExpressions {
  import Kernel.{Arg, IsFloat}

  private val vec = ColumnBridge.AnyOf(ArrayType(FloatType), ArrayType(DoubleType))
  private val doubles = ArrayType(DoubleType, containsNull = true)

  def dists(v: Column, cents: Array[Array[Double]]): Column =
    Kernel.column("graft_centroid_dists", CentroidKernels, "dists", doubles,
      Seq(v), Seq(vec), Seq(IsFloat, cents))
  def nearest(v: Column, cents: Array[Array[Double]]): Column =
    Kernel.column("graft_nearest_centroid", CentroidKernels, "nearest", IntegerType,
      Seq(v), Seq(vec), Seq(IsFloat, cents), returnNullable = true)
  def nearestExact(v: Column, cents: Array[Array[Double]]): Column =
    Kernel.column("graft_nearest_centroid_exact", CentroidKernels, "nearestExact", IntegerType,
      Seq(v), Seq(vec), Seq(IsFloat, cents), returnNullable = true)
  def distExactSel(v: Column, idx: Column, cents: Array[Array[Double]]): Column =
    Kernel.column("graft_centroid_dist_exact", CentroidKernels, "distExactSel",
      DecimalType(28, 12), Seq(v, idx), Seq(vec, IntegerType), Seq(IsFloat, Arg(1), cents),
      returnNullable = true)
  def pqLut(v: Column, books: Array[Array[Array[Double]]]): Column =
    Kernel.column("graft_pq_lut", CentroidKernels, "pqLut", doubles,
      Seq(v), Seq(vec), Seq(IsFloat, books))
  def pqLutExact(v: Column, books: Array[Array[Array[Double]]]): Column =
    Kernel.column("graft_pq_lut_exact", CentroidKernels, "pqLutExact", doubles,
      Seq(v), Seq(vec), Seq(IsFloat, books))
  def pqAssign(v: Column, books: Array[Array[Array[Double]]], exact: Boolean): Column =
    Kernel.column("graft_pq_assign", CentroidKernels, "pqAssign",
      ArrayType(IntegerType, containsNull = false), Seq(v), Seq(vec), Seq(IsFloat, exact, books))
  def pqResid2(v: Column, codes: Column, books: Array[Array[Array[Double]]]): Column =
    Kernel.column("graft_pq_resid2", CentroidKernels, "pqResid2", DoubleType,
      Seq(v, codes), Seq(vec, ArrayType(IntegerType)), Seq(IsFloat, Arg(1), books))
  def pqAdcEstDot(codes: Column, lut: Column, extra: Column,
      ks: Int, m: Int): Column = {
    require(ks >= 1 && m >= 1, s"need ks >= 1 and m >= 1, got ks=$ks m=$m")
    Kernel.column("graft_pq_adc_est", CentroidKernels, "adcEstDot", DoubleType,
      Seq(codes, lut, extra), Seq(ArrayType(IntegerType), ArrayType(DoubleType), DoubleType),
      Seq(ks, m, Arg(2)), returnNullable = true)
  }
}
