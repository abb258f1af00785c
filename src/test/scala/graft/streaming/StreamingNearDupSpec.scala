package graft.streaming

import graft.SparkSpec
import graft.operators.NearDup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

case class CrawlDoc(doc_id: Long, ts: java.sql.Timestamp, text: String)

/** [[StreamingNearDup.againstIndex]] — the continuous-crawl near-dedup
  * shape. The q91 gate runs the corpus-scale path; these pin the
  * streaming semantics: arrival-order independence across triggers,
  * single emission per pair despite multi-band collisions, and batch
  * fallback parity.
  */
class StreamingNearDupSpec extends SparkSpec {
  import spark.implicits._

  private def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  private val rnd = new scala.util.Random(71)
  private val vocab = (0 until 60).map(i => s"w$i")
  private def doc(): String = Seq.fill(24)(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  // history 0-19; delta 100-109 fresh + mutants (+1000) of history 0-9
  private val history = (0L until 20L).map(i => (i, doc()))
  private val fresh = (100L until 110L).map(i => (i, doc()))
  private val mutants = history.take(10).map { case (i, txt) =>
    (i + 1000L, txt.split(" ").drop(1).mkString(" "))
  }
  private val delta = (fresh ++ mutants).zipWithIndex.map { case ((id, txt), k) =>
    CrawlDoc(id, t(100 + k), txt)
  }

  private def bandState = {
    val sigs = history.toDF("doc_id", "text")
      .select($"doc_id", NearDup.shingles($"text", 3).as("_sh"))
      .select($"doc_id", NearDup.minhashSignature($"_sh", 32).as("_sig"))
    NearDup.lshBands(sigs, "doc_id", "_sig", 8)
  }

  private def expectedPairs: Set[(Long, Long)] =
    NearDup.nearDupPairs(
        history.toDF("doc_id", "text")
          .unionByName(delta.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")),
        "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      .filter { case (a, b) => a < 100 && b >= 100 } // history×delta only

  test("stream against stored index ≡ batch theta pairs; one row per pair; order-independent") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[CrawlDoc]
    val q = StreamingNearDup.againstIndex(
        in.toDF(), bandState, history.toDF("doc_id", "text"),
        "doc_id", "ts", "text", threshold = 0.5)
      .writeStream.format("memory").queryName("snd_out")
      .outputMode("append").start()
    try {
      // deliver mutants BEFORE fresh docs and split across triggers
      in.addData(delta.drop(10): _*)
      q.processAllAvailable()
      in.addData(delta.take(10): _*)
      q.processAllAvailable()
      val rows = spark.table("snd_out")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
      assert(rows.size === rows.distinct.size, s"pair list must be duplicate-free: $rows")
      assert(rows.toSet === expectedPairs)
      assert(rows.nonEmpty, "fixture must plant at least one cross pair")
    } finally q.stop()
  }

  test("stored shingle table path ≡ derived-from-text path") {
    val stored = NearDup.shingleTable(
      history.toDF("doc_id", "text"), "doc_id", "text")
    val viaStored = StreamingNearDup.againstIndex(
        delta.toDF(), bandState, history.toDF("doc_id", "text"),
        "doc_id", "ts", "text", threshold = 0.5, historyShingles = stored)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(viaStored === expectedPairs)
  }

  test("batch fallback produces the same pair set") {
    val out = StreamingNearDup.againstIndex(
        delta.toDF(), bandState, history.toDF("doc_id", "text"),
        "doc_id", "ts", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(out.size === out.distinct.size)
    assert(out.toSet === expectedPairs)
  }

  test("againstIndex rejects inputs outside the banded near-dup contract") {
    // (the parameter at fault, n, numHashes, bands, threshold)
    val bad = Seq(
      ("n", 0, 32, 8, 0.5), ("numHashes", 3, 0, 8, 0.5), ("bands", 3, 32, 0, 0.5),
      ("numHashes", 3, 32, 5, 0.5), ("threshold", 3, 32, 8, 0.0),
      ("threshold", 3, 32, 8, 1.5), ("threshold", 3, 32, 8, Double.NaN))
    for ((param, n, k, b, t) <- bad) {
      val e = intercept[IllegalArgumentException] {
        StreamingNearDup.againstIndex(
          delta.toDF(), bandState, history.toDF("doc_id", "text"),
          "doc_id", "ts", "text", threshold = t, n = n, numHashes = k, bands = b)
      }
      assert(e.getMessage.contains("StreamingNearDup.againstIndex") &&
        e.getMessage.contains(param), s"$param: ${e.getMessage}")
    }
  }

  test("streaming stored side is rejected") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[CrawlDoc]
    intercept[IllegalArgumentException] {
      StreamingNearDup.againstIndex(
        in.toDF(), in.toDF(), history.toDF("doc_id", "text"),
        "doc_id", "ts", "text", threshold = 0.5)
    }
  }
}
