package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** Symmetric per-vector int8 quantization kernels — the compressed
  * scan path for embedding similarity at 100 TB (Similarity
  * .quantizedTopK). A float vector v becomes (scale s, bytes q) with
  * s = max|vᵢ|/127 and qᵢ = round(vᵢ/s), so every reconstruction
  * error obeys |vᵢ − s·qᵢ| ≤ s/2 — a RIGOROUS per-pair dot-product
  * bound falls out (see [[graft.operators.Similarity.quantizedTopK]]),
  * which is what lets the int8 estimate prune WITHOUT giving up exact
  * top-k. Byte arrays are 4× smaller than float32 on the pair-scan
  * hot path and the inner loop is pure integer multiply-accumulate.
  *
  * All four kernels are deterministic pure functions of their input
  * vector (fixed round-half-up, no data-dependent branching), so
  * quantized plans reproduce bit-identically at any parallelism.
  */
object Int8QuantKernel {
  /** s = max|vᵢ|/127 (0.0 for an all-zero or empty vector). */
  def scale(v: ArrayData): Double = {
    val n = v.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(v.getFloat(i).toDouble)
      if (a > m) m = a
      i += 1
    }
    m / 127.0
  }

  /** qᵢ = round(vᵢ/s) ∈ [−127, 127] as bytes; all-zero when s = 0.
    * v/s ≤ 127·(1+ε) < 127.5, so Math.round never overflows a byte.
    */
  def quantize(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val s = scale(v)
    val out = new Array[Byte](n)
    if (s > 0.0) {
      var i = 0
      while (i < n) {
        out(i) = Math.round(v.getFloat(i).toDouble / s).toByte
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Σ qaᵢ·qbᵢ — exact integer arithmetic (|Σ| ≤ 127²·n ≪ 2⁶³). */
  def dot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    s
  }

  /** Σ |qᵢ| — the per-vector term of the quantization error bound. */
  def absSum(a: ArrayData): Long = {
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      s += math.abs(a.getByte(i).toLong)
      i += 1
    }
    s
  }
}

object QuantExpressions {
  private val floats = ArrayType(FloatType)
  private val bytes = ArrayType(ByteType)

  def i8Scale(v: Column): Column =
    Kernel.column("graft_i8_scale", Int8QuantKernel, "scale", DoubleType,
      Seq(v), Seq(floats))
  def i8Quantize(v: Column): Column =
    Kernel.column("graft_i8_quant", Int8QuantKernel, "quantize",
      ArrayType(ByteType, containsNull = false), Seq(v), Seq(floats))
  def i8Dot(a: Column, b: Column): Column =
    Kernel.column("graft_i8_dot", Int8QuantKernel, "dot", LongType,
      Seq(a, b), Seq(bytes, bytes))
  def i8AbsSum(v: Column): Column =
    Kernel.column("graft_i8_abssum", Int8QuantKernel, "absSum", LongType,
      Seq(v), Seq(bytes))
}
