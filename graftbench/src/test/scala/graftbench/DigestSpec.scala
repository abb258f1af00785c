package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "3")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def frame = {
    import spark.implicits._
    (1 to 200).map(i => (i.toLong, s"t${i % 17}", if (i % 5 == 0) None else Some(i * 0.25)))
      .toDF("id", "tag", "x")
      .withColumn("m", map(col("tag"), col("id")))
      .withColumn("arr", array(col("id"), col("id") * 2))
  }

  test("digest does not depend on row order or partitioning") {
    val d = Digest.of(frame)
    assert(d.rows == 200)
    assert(Digest.of(frame.orderBy(col("id").desc)) == d)
    assert(Digest.of(frame.repartition(7, col("tag"))) == d)
    assert(Digest.of(frame.coalesce(1)) == d)
    assert(Digest.of(frame.repartition(5).sortWithinPartitions(col("x"))) == d)
  }

  test("digest changes with a value, a duplicate row, a null or a column name") {
    val d = Digest.of(frame)
    assert(Digest.of(frame.withColumn("x", when(col("id") === 7, 0.0).otherwise(col("x")))) != d)
    assert(Digest.of(frame.union(frame.limit(1))) != d)
    assert(Digest.of(frame.withColumn("tag", when(col("id") === 3, lit(null)).otherwise(col("tag")))) != d)
    assert(Digest.of(frame.withColumnRenamed("tag", "label")) != d)
  }

  test("results with duplicate column names digest") {
    val f = frame.select(col("id"), col("id"), col("tag"))
    assert(Digest.of(f).rows == 200)
  }
}
