package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Checksum-gated credit-card (PAN) redaction: candidates come from a
  * regex, but only LUHN-VALID candidates are redacted (ISO/IEC 7812
  * mod-10 checksum) — 9 of 10 random 16-digit runs fail Luhn, so the
  * checksum gate is what separates "scrub card numbers" from "scrub
  * every long number" (order ids, EANs, tracking numbers survive).
  * This is the scrubbing refinement a pure-regex pass (q155)
  * structurally cannot express: the redaction decision depends on a
  * computation over the matched text, not its shape.
  *
  * Candidate dialect (Java∩RE2-agreeing, the [[graft.operators
  * .Redact]] discipline): a contiguous word-bounded 13–16 digit run,
  * or the 4-4-4-4 grouping with single space or dash separators
  * (mixed separators accepted — RE2 has no backreferences to pin
  * them). The DuckDB oracle replays the scan as split/extract +
  * a per-candidate Luhn fold + reassembly.
  *
  * 100 TB shape: pure per-row projection, no shuffle, codegen intact.
  */
object LuhnKernel {

  /** Grouped 4-4-4-4 first; at any start position at most one branch
    * can match (a contiguous 13+ run has no separator at offset 4),
    * so Java's ordered and RE2's longest alternation agree.
    */
  val CcRe: String =
    "\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b|\\b\\d{13,16}\\b"

  val CcToken = "<CC>"

  private val P = Pattern.compile(CcRe)

  /** ISO/IEC 7812 mod-10 over the digits of `s` (separators already
    * stripped): from the RIGHT, double every second digit, subtract 9
    * when over 9, valid iff the total ends in 0.
    */
  def luhnValid(s: String): Boolean = {
    var tot = 0
    var j = 0
    val n = s.length
    while (j < n) {
      val c = s.charAt(j)
      if (c >= '0' && c <= '9') {
        var d = c - '0'
        if ((n - 1 - j) % 2 == 1) {
          d *= 2
          if (d > 9) d -= 9
        }
        tot += d
      }
      j += 1
    }
    tot % 10 == 0
  }

  /** (clean_text, n_cc, n_rejected): Luhn-valid candidates replaced
    * by `<CC>`, invalid candidates left in place and counted.
    */
  def redact(text: UTF8String): GenericInternalRow = {
    val s = text.toString
    val m = P.matcher(s)
    val sb = new java.lang.StringBuilder
    var last = 0
    var nCc = 0
    var nRej = 0
    while (m.find()) {
      sb.append(s, last, m.start())
      val cand = s.substring(m.start(), m.end())
      val digits = cand.replace("-", "").replace(" ", "")
      if (luhnValid(digits)) { sb.append(CcToken); nCc += 1 }
      else { sb.append(cand); nRej += 1 }
      last = m.end()
    }
    sb.append(s, last, s.length)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(sb.toString), nCc, nRej))
  }
}

object LuhnExpressions {
  /** `graft_luhn_redact(text)` → STRUCT<clean_text, n_cc, n_rejected>. */
  def luhnRedact(text: Column): Column =
    Kernel.column("graft_luhn_redact", LuhnKernel, "redact", StructType(Seq(
        StructField("clean_text", StringType, nullable = false),
        StructField("n_cc", IntegerType, nullable = false),
        StructField("n_rejected", IntegerType, nullable = false))),
      Seq(text), Seq(StringType))
}
