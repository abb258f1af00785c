package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** GPT-2-style BYTE-LEVEL alphabet remap (Radford et al., "Language
  * Models are Unsupervised Multitask Learners", 2019 — the
  * `bytes_to_unicode` construction): every UTF-8 BYTE of the input
  * maps to one printable BMP character, so a BPE whose base alphabet
  * is the 256 mapped characters can tokenize ARBITRARY text — an
  * unseen script, an emoji, even invalid mojibake — with zero UNKs,
  * because everything decomposes to bytes. The map is a bijection:
  * bytes that are already printable single-byte codepoints
  * (33–126, 161–172, 174–255) map to themselves; the other 68 bytes
  * (controls, space, DEL, 0xAD) take codepoints 256, 257, … in byte
  * order. Inverse-mapping a token stream and UTF-8-decoding restores
  * the original text exactly — the lossless-roundtrip property
  * ByteBpeSpec locks on arbitrary UTF-8 including non-BMP.
  *
  * Both directions are per-row codegen'd kernels (byte loop, no
  * regex, no allocation beyond the output) — remap in FRONT of
  * [[BpeSegmentKernel]]/[[graft.operators.BpeTrainer]] is a zero-shuffle
  * projection, so byte-level training and segmentation reuse the
  * char-level machinery unchanged: after remap, "characters" ARE the
  * byte alphabet.
  */
object ByteAlphabet {
  /** byteToChar(b) = the mapped codepoint of byte b — all ≤ 0x143,
    * comfortably BMP, 1 UTF-16 char each.
    */
  val byteToChar: Array[Char] = {
    val keep = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    var next = 256
    (0 to 255).map { b =>
      if (keep(b)) b.toChar
      else { val c = next.toChar; next += 1; c }
    }.toArray
  }

  /** Inverse map; −1 marks characters outside the alphabet. */
  val charToByte: Array[Int] = {
    val inv = Array.fill(0x400)(-1)
    byteToChar.zipWithIndex.foreach { case (c, b) => inv(c.toInt) = b }
    inv
  }
}

object ByteBpeKernel {
  /** UTF-8 bytes → mapped-alphabet string (one char per byte). */
  def remap(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val out = new Array[Char](bytes.length)
    var i = 0
    while (i < bytes.length) {
      out(i) = ByteAlphabet.byteToChar(bytes(i) & 0xFF)
      i += 1
    }
    UTF8String.fromString(new String(out))
  }

  /** Mapped-alphabet string → original bytes → string. Fails loudly
    * on characters outside the 256-char alphabet (the input was not
    * produced by [[remap]]/byte-level BPE) rather than silently
    * dropping bytes.
    */
  def unremap(s: UTF8String): UTF8String = {
    val str = s.toString
    val out = new Array[Byte](str.length)
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i).toInt
      val b = if (c < 0x400) ByteAlphabet.charToByte(c) else -1
      if (b < 0) throw new IllegalArgumentException(
        s"graft_byte_unremap: char U+${c.toHexString.toUpperCase} at " +
          s"position $i is not in the 256-char byte alphabet")
      out(i) = b.toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

object ByteBpeExpressions {
  def byteRemap(c: Column): Column =
    Kernel.column("graft_byte_remap", ByteBpeKernel, "remap", StringType,
      Seq(c), Seq(StringType))
  def byteUnremap(c: Column): Column =
    Kernel.column("graft_byte_unremap", ByteBpeKernel, "unremap", StringType,
      Seq(c), Seq(StringType))
}
