package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WriteSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned warehouse write: round-trips and prunes partitions") {
    val path = getClass.getResource("/TrainingDiary.json").getPath
    val wh = DiaryPipeline.build(spark, path)
    val out = java.nio.file.Files.createTempDirectory("graft_wh").toString
    DiaryPipeline.write(wh, out)
    val back = spark.read.parquet(out)
    assert(back.count() === wh.count())
    // partition pruning: a single-activity read must scan only that
    // partition directory
    val pruned = back.filter($"period" === "Day" && $"activity" === "Run")
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    // both predicates must reach the scan as PARTITION filters (pruned
    // at listing time), not data filters
    assert(scan.partitionFilters.map(_.references.map(_.name).mkString).toSet
      .intersect(Set("period", "activity")).size === 2)
    assert(pruned.count() === wh.filter($"activity" === "Run").count())
  }

  test("IVF index layout: corpus written partitionBy(cell), probe prunes to probed cells") {
    // the classic IVF-flat file layout from the Similarity scaladoc:
    // cell assignment as an ordinary column, one parquet partition per
    // cell, probes read only their nProbe partitions
    val rnd = new scala.util.Random(3)
    val corpus = Seq.tabulate(400)(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(corpus, "vec_id", "embedding", k = 4, iters = 2)
    val withCell = corpus.withColumn("cell",
      Similarity.cellOf(col("embedding"), cents))
    val out = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    withCell.write.partitionBy("cell").mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    val probed = back.filter(col("cell").isin(0, 2))
    val scan = probed.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty)
    assert(probed.select("cell").distinct().as[Int].collect().toSet.subsetOf(Set(0, 2)))
  }

  test("dsum survives large magnitudes under ANSI mode (no silent null)") {
    // the session's real value (Spark 4 defaults to true), restored
    // as is so later suites on the shared session keep it
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      // 10^12-scale values: DECIMAL(18,4) would overflow at the cast;
      // DECIMAL(38,6) has 10^32 headroom
      val s = Seq.fill(100)(1.23456e12).toDF("v")
        .agg(graft.core.Exact.dsum($"v")).as[Double].head()
      assert(math.abs(s - 1.23456e14) < 1.0)
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }
}
