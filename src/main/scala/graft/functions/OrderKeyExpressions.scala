package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._

/** Order-preserving DOUBLE ↔ LONG keys for DESCENDING sort order —
  * the bridge that lets a per-query "k-th largest value" bound ride
  * the mergeable [[BottomK]] aggregate ((long, long) pairs, map-side
  * partials) instead of a full per-query `row_number` window sort.
  *
  * descKey(x) < descKey(y) ⟺ x sorts BEFORE y under
  * (value DESC) with `java.lang.Double.compare` semantics — the
  * IEEE-754 total order (NaN greatest, hence FIRST in descending
  * order, matching Spark's NaN-is-largest sort). The mapping is a
  * bijection; [[fromDescKey]] recovers the exact bits.
  */
object OrderKeys {
  /** bits → ascending-order-preserving SIGNED long (non-negative
    * doubles keep their bits — already ascending, positive NaN bits
    * above +Inf; negative doubles flip their 63 value bits, reversing
    * the magnitude order while staying negative), then bitwise NOT
    * for descending. The ascending map is an involution, so the
    * inverse applies the same transform.
    */
  def toDescKey(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(d)
    ~(bits ^ ((bits >> 63) & Long.MaxValue))
  }

  def fromDescKey(k: Long): Double = {
    val asc = ~k
    java.lang.Double.longBitsToDouble(asc ^ ((asc >> 63) & Long.MaxValue))
  }
}

object OrderKeyExpressions {
  def descKey(value: Column): Column =
    Kernel.column("graft_desc_key", OrderKeys, "toDescKey", LongType,
      Seq(value), Seq(DoubleType))
  def fromDescKey(key: Column): Column =
    Kernel.column("graft_from_desc_key", OrderKeys, "fromDescKey", DoubleType,
      Seq(key), Seq(LongType))
}
