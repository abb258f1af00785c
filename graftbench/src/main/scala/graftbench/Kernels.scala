package graftbench

import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Single-thread timings of the native kernels in `graft.functions`,
  * called directly on the `documents` texts with the parameters the
  * text queries use (word 3-shingles, 32 min-hashes, 10-token windows,
  * char 3-grams into 1024 buckets). Each kernel runs `warmUp` untimed
  * passes over all rows, then `reps` timed ones.
  */
object Kernels {

  final case class Rate(name: String, nsPerRow: Double, rows: Long)

  @volatile private var sink = 0L

  def measure(texts: Array[UTF8String], warmUp: Int, reps: Int): Seq[Rate] = {
    val tokens = texts.map(TextKernels.tokens)
    val shingles = tokens.map(ShingleKernels.shingles(_, 3))
    val kernels: Seq[(String, Int => Long)] = Seq(
      "TextKernels.tokens" -> (i => TextKernels.tokens(texts(i)).numElements()),
      "ShingleKernels.shingles" -> (i => ShingleKernels.shingles(tokens(i), 3).numElements()),
      "ShingleKernels.windowHashes" -> (i => ShingleKernels.windowHashes(tokens(i), 10).numElements()),
      "HashKernels.minhash" -> (i => HashKernels.minhash(shingles(i), 32).getLong(0)),
      "NgramKernels.triples" -> (i => NgramKernels.triples(tokens(i)).numElements()),
      "GopherKernels.full" -> (i => GopherKernels.full(texts(i)).numFields),
      "LangNbKernel.charNgramBuckets" -> (i => LangNbKernel.charNgramBuckets(texts(i), 3, 1024).numElements()),
      "FingerprintKernel.compute" -> (i => FingerprintKernel.compute(texts(i))))
    kernels.map { case (name, f) =>
      def pass(): Unit = {
        var acc = 0L
        var i = 0
        while (i < texts.length) { acc += f(i); i += 1 }
        sink += acc
      }
      (1 to warmUp).foreach(_ => pass())
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => pass())
      val rows = texts.length.toLong * reps
      Rate(name, (System.nanoTime() - t0).toDouble / rows, rows)
    }
  }
}
