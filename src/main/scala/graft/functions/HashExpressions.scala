package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native hash-sketch kernels (like [[FingerprintKernel]]): the HOF
  * formulations of MinHash and SimHash are correct but pay one
  * interpreted lambda dispatch per (element × permutation/bit); these
  * kernels are single tight loops sharing the
  * SAME xxhash64 chain as the built-in `xxhash64(...)` expression, so
  * they are drop-in bit-identical replacements (equivalence is
  * unit-tested against the HOF forms).
  */
object HashKernels {

  /** Matches `xxhash64(lit(j), s)`: seed 42, fold int j then string s. */
  @inline private def seededHash(j: Int, s: Any): Long =
    XxHash64Function.hash(s, StringType,
      XxHash64Function.hash(j, IntegerType, 42L))

  /** sig[j] = min over shingles of xxhash64(j, shingle). */
  def minhash(shingles: ArrayData, numHashes: Int): ArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val n = shingles.numElements()
    while (i < n) {
      val s = shingles.getUTF8String(i)
      var j = 0
      while (j < numHashes) {
        val h = seededHash(j, s)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Bit b of the result = sign of Σ_tokens (±1 per bit b of
    * xxhash64(token)) — ONE hash per token (the HOF form recomputes
    * the token hash per bit).
    */
  def simhash64(tokens: ArrayData): Long = {
    val sums = new Array[Long](64)
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      val h = XxHash64Function.hash(tokens.getUTF8String(i), StringType, 42L)
      var b = 0
      while (b < 64) {
        sums(b) += (if (((h >>> b) & 1L) != 0) 1L else -1L)
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (sums(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** 31-bit simhash whose token hash is the polynomial fingerprint
    * recurrence ([[FingerprintKernel.compute]]) — weaker mixing than
    * xxhash64 but expressible in ANSI SQL (bounded integer arithmetic,
    * no 64-bit wraparound), so the whole simhash oracles in DuckDB.
    * [[simhash64]] remains the production fingerprint.
    */
  def simhashPoly(tokens: ArrayData): Long = {
    val sums = new Array[Long](31)
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      val h = FingerprintKernel.compute(tokens.getUTF8String(i))
      var b = 0
      while (b < 31) {
        sums(b) += (if (((h >>> b) & 1L) != 0) 1L else -1L)
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 31) {
      if (sums(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

object BbitKernels {

  /** b-bit minhash packing, b = 1 (Li & König, "b-Bit Minwise
    * Hashing", WWW 2010): the LSB of each minhash value packed 64 to
    * a long, little-endian within each word — a k-permutation
    * signature shrinks from 8k bytes to k/8 (64× at b=1), which is
    * the difference between "signatures live in memory beside the
    * band index" and "signatures are a second corpus" at 100 TB.
    */
  def pack(sig: ArrayData): ArrayData = {
    val k = sig.numElements()
    val words = new Array[Long]((k + 63) / 64)
    var j = 0
    while (j < k) {
      if ((sig.getLong(j) & 1L) == 1L) words(j >> 6) |= (1L << (j & 63))
      j += 1
    }
    new GenericArrayData(words)
  }

  /** Unbiased b=1 estimator: P(bit match) = (1+J)/2 for minwise
    * hashes, so Ĵ = 2·m/k − 1 with m = matching bits (clamped at 0 —
    * an estimate below the independence floor carries no signal).
    */
  def estimate(a: ArrayData, b: ArrayData, k: Int): Double = {
    // fail loudly on length mismatch: XOR-ing only the common prefix
    // while dividing by k would silently bias a truncated signature's
    // estimate toward 1 (missing words contribute zero diffs) —
    // mirroring the numHashes % 64 == 0 require at the operator entry
    val words = (k + 63) / 64
    if (a.numElements() != words || b.numElements() != words)
      throw new IllegalArgumentException(
        s"bbit estimate: signatures must pack k=$k hashes into $words " +
          s"words, got ${a.numElements()} and ${b.numElements()}")
    var diff = 0
    var w = 0
    while (w < words) {
      diff += java.lang.Long.bitCount(a.getLong(w) ^ b.getLong(w))
      w += 1
    }
    math.max(2.0 * (k - diff) / k - 1.0, 0.0)
  }
}

object HashExpressions {
  private val tokenArray = ArrayType(StringType)
  private val longs = ArrayType(LongType)

  def minhashSig(shingles: Column, numHashes: Int): Column =
    Kernel.column("graft_minhash", HashKernels, "minhash",
      ArrayType(LongType, containsNull = false), Seq(shingles), Seq(tokenArray), Seq(numHashes))
  def simhash64(tokens: Column): Column =
    Kernel.column("graft_simhash64", HashKernels, "simhash64", LongType,
      Seq(tokens), Seq(tokenArray))
  def simhashPoly(tokens: Column): Column =
    Kernel.column("graft_simhash_poly", HashKernels, "simhashPoly", LongType,
      Seq(tokens), Seq(tokenArray))
  def bbitPack(sig: Column): Column =
    Kernel.column("graft_bbit_pack", BbitKernels, "pack",
      ArrayType(LongType, containsNull = false), Seq(sig), Seq(longs))
  def bbitEst(a: Column, b: Column, k: Int): Column =
    Kernel.column("graft_bbit_est", BbitKernels, "estimate", DoubleType,
      Seq(a, b), Seq(longs, longs), Seq(k))
}
