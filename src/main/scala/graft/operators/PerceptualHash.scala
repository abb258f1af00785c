package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.OpCache.TrackedPersist

/** Perceptual image near-duplicate detection: dHash fingerprints +
  * Hamming-radius banding — the multimodal analogue of the text
  * near-dup stack ([[NearDup]]). The reference has no image pipeline
  * at all; this is part of the engine's LLM-training-data extension
  * surface (SURVEY.md §2.5), built from public algorithms: the dHash
  * gradient hash (Krawetz 2013) computed by [[ImageIoCodec.dHash64]],
  * and the pigeonhole band trick for Hamming-ball retrieval (Manku,
  * Jain, Das Sarma — "Detecting Near-Duplicates for Web Crawling",
  * WWW 2007, §3: a hash within distance d of another must agree
  * EXACTLY on at least one of any d+1 disjoint bit blocks).
  *
  * Why this survives 100 TB of images: hashing is an embarrassingly
  * parallel per-partition decode pass (payload bytes never shuffle);
  * candidate generation shuffles only (id, band, 16-bit value) rows —
  * |images|·bands tiny rows, one equi-join, NO all-pairs anywhere;
  * verification is a 64-bit XOR+popcount on the candidate set. Hot
  * bands (a near-constant band value from letterboxed / blank images
  * — the boilerplate-shingle analogue) are the classic AQE skew-join
  * case, same story as the text LSH bands.
  */
object PerceptualHash {

  /** Attach a 64-bit perceptual hash of a binary image column,
    * decoded executor-side in per-partition batches (the
    * [[Multimodal]] plumbing shape). Corrupt / undecodable payloads
    * hash to NULL rather than killing the task — at 100 TB some shard
    * WILL hold garbage bytes — and NULL hashes drop out of
    * [[nearDupPairs]] naturally (no band rows).
    *
    * The hasher is an injectable seam like [[Multimodal.MediaCodec]]
    * (default: the production [[ImageIoCodec.dHash64]]); it must be
    * pure and Serializable.
    */
  def withDHash(df: DataFrame, payloadCol: String, outCol: String = "dhash",
      hasher: Array[Byte] => Long = ImageIoCodec.dHash64): DataFrame = {
    val schema = StructType(df.schema.fields :+
      StructField(outCol, LongType, nullable = true))
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val h: java.lang.Long =
          try {
            if (r.isNullAt(idx)) null
            else java.lang.Long.valueOf(hasher(r.getAs[Array[Byte]](idx)))
          } catch { case scala.util.control.NonFatal(_) => null }
        Row.fromSeq(r.toSeq :+ h)
      }
    }(Encoders.row(schema))
  }

  /** All id pairs whose 64-bit hashes are within `maxHamming` bits,
    * WITHOUT an all-pairs comparison: split each hash into `bands`
    * disjoint blocks of 64/bands bits; by pigeonhole, two hashes
    * differing in at most `maxHamming < bands` bits agree exactly on
    * at least one block, so an equi-self-join on (band, block value)
    * finds EVERY qualifying pair (recall is exact, not probabilistic
    * — unlike MinHash banding) and the XOR+popcount verify then
    * discards the collisions. Emits (id_a, id_b, hamming) with
    * id_a < id_b.
    *
    * Shuffle budget: one |ids|·bands-row equi-join + two hash
    * join-backs on the (far smaller) candidate set. All comparisons
    * are codegen'd built-ins (shiftright / and / xor / bit_count) —
    * no UDFs.
    */
  def nearDupPairs(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, bands: Int = 4): DataFrame = {
    require(bands >= 1 && 64 % bands == 0,
      s"bands must divide 64, got $bands")
    require(maxHamming >= 0 && maxHamming < bands,
      s"exact recall needs maxHamming < bands (pigeonhole over disjoint " +
        s"blocks), got maxHamming=$maxHamming with bands=$bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    // hashes feed three subtrees (band explode + both verify
    // join-backs) — materialize once (same rationale as NearDup's
    // shingle persist)
    val hashes = df.select(col(idCol), col(hashCol))
      .filter(col(hashCol).isNotNull).persistTracked
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col(hashCol), b * width).bitwiseAND(lit(mask)).as("bv"))
    }
    val bandRows = hashes
      .select(col(idCol), explode(array(bandStructs: _*)).as("e"))
      .select(col(idCol), col("e.band").as("band"), col("e.bv").as("bv"))
    NearDup.bandSelfJoin(bandRows, idCol, "bv")
      .join(hashes.select(col(idCol).as("id_a"), col(hashCol).as("_ha")), "id_a")
      .join(hashes.select(col(idCol).as("id_b"), col(hashCol).as("_hb")), "id_b")
      .withColumn("hamming",
        bit_count(col("_ha").bitwiseXOR(col("_hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
