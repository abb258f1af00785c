package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, MapType}

/** Order- and partitioning-insensitive digest of a query result: its
  * row count, the exact sum of one 64-bit hash per row over every column
  * (plus the row's null mask), and the column names and types. A sum
  * does not depend on the order rows arrive in, so two runs that return
  * the same multiset of rows in any order or partitioning agree.
  */
final case class Digest(rows: Long, hash: String, schema: String)

object Digest {

  def of(df: DataFrame): Digest = {
    val fields = df.schema.fields
    // positional names: results may carry duplicate or dotted names
    val named = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.indices.map(i => hashable(col(s"c$i"), fields(i).dataType))
    val nullMask = array(fields.indices.map(i => col(s"c$i").isNull): _*)
    val rowHash = xxhash64((cols :+ nullMask): _*)
    val r = named.select(rowHash.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString),
      fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","))
  }

  /** Spark does not hash maps; a map hashes as its key-sorted entries. */
  private def hashable(c: org.apache.spark.sql.Column, t: DataType) = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }
}
