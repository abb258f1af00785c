package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Native Unicode NFC normalization — the canonicalization step a
  * multilingual training corpus needs BEFORE any content-hash dedup:
  * the same visible text arrives both precomposed (é = U+00E9) and
  * decomposed (e + U+0301) from different crawls/encoders, and every
  * byte-level operator downstream (sha256 exact dedup q14/q52,
  * shingle hashing q16, fingerprints q19) treats those as different
  * documents. Spark has no built-in normalizer; as a [[Kernel]] call
  * it stays inside whole-stage codegen (a UDF would break the codegen
  * span and lose subexpression elimination for derived metrics).
  */
object NfcKernel {
  /** Unicode NFC (canonical decomposition + canonical composition,
    * `java.text.Normalizer`). Fast path: `isNormalized` is a cheap
    * scan that succeeds for pure-ASCII and already-composed text —
    * the overwhelming majority of a real corpus — and skips the
    * allocation entirely; only rows carrying combining marks pay the
    * recompose.
    */
  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

object NormExpressions {
  /** Column API for the NFC kernel. */
  def nfc(c: Column): Column =
    Kernel.column("graft_nfc", NfcKernel, "compute", StringType, Seq(c), Seq(StringType))
}
