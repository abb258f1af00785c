package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** One input row for [[KernelEvalPathsSpec]]: every argument type the
  * kernels read, with an all-null row and an empty row among them.
  */
final case class KernelInput(row: Int, text: String, host: String, word: String,
    key: String, id: Option[Long], x: Option[Double], fv: Seq[Float], dv: Seq[Double],
    bv: Seq[Byte], j: Option[Int], codes: Seq[Int], positions: Seq[Int])

/** Every native [[Kernel]] on both evaluation paths. Each row runs its
  * kernel once under whole-stage codegen (compile failures are errors,
  * not a silent fallback) and once interpreted
  * (`spark.sql.codegen.wholeStage=false`,
  * `spark.sql.codegen.factoryMode=NO_CODEGEN`, where [[Kernel]]
  * evaluates through `StaticInvoke`'s reflective call) and asserts the
  * same rows. The input is a parquet file, so the codegen run really
  * compiles: a local `Seq(...).toDF` is folded into a `LocalRelation`
  * and evaluated interpreted even with codegen on.
  */
class KernelEvalPathsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val input: DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("graft_kernel_paths").toString + "/in"
    Seq(
      KernelInput(1,
        "the cat sat on the mat\nthe cat sat on the mat\n\n" +
          "pay 4111 1111 1111 1111 now, café naïve ... the end",
        "www.example.co.uk", "lowest", "d1", Some(7L), Some(0.5),
        Seq(1f, 2f, 3f, 4f), Seq(0.5, 1.5, -2.0, 3.0), Seq[Byte](1, -2, 3, 4), Some(2),
        Seq(1, 0), Seq(0, 2)),
      KernelInput(2,
        "Hello world. Hello world...\n• a bullet line\n# hash and the words\nHello world.",
        "user.github.io", "abcbc", "d2", Some(-3L), Some(-1.25),
        Seq(0f, 0f, 1f, 1f), Seq(1.0, 1.0, 1.0, 1.0), Seq[Byte](0, 0, 0, 0), Some(0),
        Seq(0, 1), Seq(1)),
      KernelInput(3, "", "", "", "", Some(0L), Some(0.0), Nil, Nil, Nil, Some(1),
        Nil, Nil),
      KernelInput(4, null, null, null, null, None, None, null, null, null, None,
        null, null)
    ).toDF().write.parquet(path)
    spark.read.parquet(path)
  }

  private val cents = Array(Array(0.0, 1.0, 2.0, 3.0), Array(1.0, 1.0, 1.0, 1.0))
  // m = 2 subspaces × ks = 2 codewords of 2 dims
  private val books = Array(
    Array(Array(0.0, 1.0), Array(1.0, 2.0)),
    Array(Array(3.0, 4.0), Array(-1.0, 1.0)))

  private def toks = split($"text", " ")
  private def vec4(c: Column) = when(size(c) === 4, c)
  private def codes2 = when(size($"codes") === 2, $"codes")
  // row 2 narrows the vector to 3 dims: no centroid matches its length
  private def mixedDims = when($"j" === 0, slice($"dv", 1, 3)).otherwise($"dv")

  private val kernels: Seq[(String, Column)] = Seq(
    "graft_fingerprint" -> FingerprintExpression.fingerprint($"text"),
    "graft_tokens" -> TextExpressions.tokens($"text"),
    "graft_count_in" -> TextExpressions.countIn(toks, Seq("the", "cat")),
    "graft_term_tfs" -> TextExpressions.termTfs(toks, Seq("the", "world")),
    "graft_nfc" -> NormExpressions.nfc($"text"),
    "graft_minhash" -> HashExpressions.minhashSig(toks, 8),
    "graft_simhash64" -> HashExpressions.simhash64(toks),
    "graft_simhash_poly" -> HashExpressions.simhashPoly(toks),
    "graft_bbit_pack" -> HashExpressions.bbitPack(array($"id", $"id" * 3)),
    "graft_bbit_est" -> HashExpressions.bbitEst(array($"id"), array($"id" + 1), 64),
    "graft_shingles" -> ShingleExpressions.shingles(toks, 2),
    "graft_window_hashes" -> ShingleExpressions.windowHashes(toks, 3),
    "graft_jaccard" -> ShingleExpressions.jaccard(toks, split(lit("the cat"), " ")),
    "graft_dot" -> DotExactExpression.dotFast($"fv", $"fv"),
    "graft_dot_exact" -> DotExactExpression.dotExact($"fv", reverse($"fv")),
    "graft_dot_exact_d" -> DotExactExpression.dotExactD($"dv", reverse($"dv")),
    "graft_i8_scale" -> QuantExpressions.i8Scale($"fv"),
    "graft_i8_quant" -> QuantExpressions.i8Quantize($"fv"),
    "graft_i8_dot" -> QuantExpressions.i8Dot($"bv", reverse($"bv")),
    "graft_i8_abssum" -> QuantExpressions.i8AbsSum($"bv"),
    "graft_deletion_neighborhood" -> FuzzyExpressions.deletionNeighborhood($"word"),
    "graft_cdc_chunks" -> ChunkExpressions.cdcChunks($"text", 3),
    "graft_psl_domain" -> Psl.registrableDomain($"host"),
    "graft_bpe_segment" ->
      BpeExpressions.bpeSegment($"word", Seq(("l", "o"), ("lo", "w"), ("b", "c"))),
    "graft_wordpiece" -> WordPieceExpressions.wordPiece($"word",
      new WordPieceVocab(Array("a", "b", "ab", "abc", "bc", "lo", "w"))),
    "graft_unigram_segment" -> UnigramExpressions.unigramSegment($"word",
      new UnigramLmModel(Array("a", "b", "c", "bc", "l", "o", "w", "e", "s", "t", "lo"),
        Array(3L, 3L, 3L, 4L, 3L, 3L, 3L, 3L, 3L, 3L, 5L).map(_ * 1000000000L))),
    "graft_byte_remap" -> ByteBpeExpressions.byteRemap($"text"),
    "graft_byte_unremap" -> ByteBpeExpressions.byteUnremap($"word"),
    "graft_ac_matches" -> AcExpressions.acMatches($"text", Seq("cat", "world", "the m")),
    "graft_dsir_logw" -> DsirExpressions.dsirLogWeight(toks,
      DsirLm(Seq((0L, 3L), (1L, 1L)), Seq((0L, 1L), (2L, 2L)), 4)),
    "graft_dsir_buckets" -> DsirExpressions.ngramBuckets(toks, 16),
    "graft_langnb" -> LangNbExpressions.langNbScore($"text",
      LangNbModel(Seq(("en", 0L, 3L), ("fr", 1L, 2L), ("en", 5L, 1L)),
        Seq(("en", 2L), ("fr", 1L)), 8, 2)),
    "graft_char_ngram_buckets" -> LangNbExpressions.charNgramBuckets($"text", 3, 64),
    "graft_bigram_ppl" -> LmExpressions.bigramPpl(toks,
      BigramLm(Seq(("the", "cat", 2L), ("cat", "sat", 1L), ("the", "mat", 1L)), 10L)),
    "graft_kn_ppl" -> LmExpressions.knPpl(toks,
      KneserNeyLm(Seq(("the", "cat", 2L), ("cat", "sat", 1L), ("hello", "world.", 1L))),
      0.75),
    "graft_tri_ppl" -> LmExpressions.triPpl(toks,
      TrigramLm(Seq(("the", "cat", "sat", 1L)), Seq(("the", "cat", 2L)),
        Seq(("the", 3L), ("cat", 2L))), 0.5, 0.3, 0.2),
    "graft_luhn_redact" -> LuhnExpressions.luhnRedact($"text"),
    "graft_neg_sample" -> NegSampleExpressions.negSample($"id",
      new NegSampleKernel.Model("s", Array("a", "b", "c"), Array(1.0, 2.5, 3.0), 3.0)),
    "graft_token_pairs" -> NgramExpressions.tokenPairs(toks),
    "graft_token_triples" -> NgramExpressions.tokenTriples(toks),
    "graft_token_ngram_strings" -> NgramExpressions.tokenNgramStrings(toks, 2),
    "graft_desc_key" -> OrderKeyExpressions.descKey($"x"),
    "graft_from_desc_key" -> OrderKeyExpressions.fromDescKey($"id"),
    "graft_gopher_format" ->
      QualityExpressions.gopherFormat($"text", Seq("the", "and", "of")),
    "graft_gopher_repetition" -> GopherExpressions.basic($"text"),
    "graft_gopher_repetition_capped" -> GopherExpressions.capped($"text", 8, 3),
    "graft_gopher_repetition_full" -> GopherExpressions.full($"text"),
    "graft_gopher_repetition_full_guarded" ->
      GopherExpressions.fullGuarded($"key", $"text", 100),
    "graft_remove_dup_spans" -> SpanExpressions.removeDupSpans(toks, $"positions", 2),
    "graft_uppertri_q12" -> SpectrumExpressions.upperTriQ12($"dv"),
    "graft_q12" -> SpectrumExpressions.q12($"x"),
    "graft_dec12_double" -> SpectrumExpressions.dec12ToDouble($"id"),
    "graft_c9_dot_term" ->
      SpectrumExpressions.c9DotTerm($"x", $"j", Array(0.25, -1.5, 2.0, 0.125)),
    "graft_subsample" -> SubsampleExpressions.subsample($"text", $"key",
      SubsampleKernel.toModel("s", Array("the", "cat", "world."), Array(0.5, 0.9, 0.1))),
    "graft_centroid_dists" -> CentroidExpressions.dists($"fv", cents),
    "graft_nearest_centroid" -> CentroidExpressions.nearest(mixedDims, cents),
    "graft_nearest_centroid_exact" -> CentroidExpressions.nearestExact($"fv", cents),
    "graft_centroid_dist_exact" ->
      CentroidExpressions.distExactSel(mixedDims, $"j" % 2, cents),
    "graft_pq_lut" -> CentroidExpressions.pqLut($"fv", books),
    "graft_pq_lut_exact" -> CentroidExpressions.pqLutExact($"dv", books),
    "graft_pq_assign" -> CentroidExpressions.pqAssign(vec4($"fv"), books, exact = true),
    "graft_pq_resid2" -> CentroidExpressions.pqResid2(vec4($"dv"), codes2, books),
    "graft_pq_adc_est" ->
      CentroidExpressions.pqAdcEstDot(codes2, vec4($"dv"), $"x", 2, 2))

  private def withConf[A](conf: (String, String)*)(f: => A): A = {
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def hasKernel(p: SparkPlan, name: String): Boolean =
    p.expressions.exists(_.exists {
      case k: Kernel => k.name == name
      case _ => false
    })

  /** (rows ordered by `row`, kernel compiled inside a whole-stage stage) */
  private def run(name: String, c: Column): (Seq[Row], Boolean) = {
    val df = input.select($"row", c.as("k"))
    val plan = df.queryExecution.executedPlan
    val inStage = collect(plan) { case w: WholeStageCodegenExec => w }
      .exists(_.child.exists(hasKernel(_, name)))
    (df.collect().toSeq.sortBy(_.getInt(0)), inStage)
  }

  test("one row per kernel: distinct names, each row's column is that Kernel") {
    assert(kernels.map(_._1).distinct.size === kernels.size)
    assert(kernels.size === 63)
    kernels.foreach { case (name, c) =>
      ColumnBridge.expression(c) match {
        case k: Kernel => assert(k.name === name)
        case other => fail(s"$name row builds ${other.getClass.getName}, not a Kernel")
      }
    }
  }

  kernels.foreach { case (name, c) =>
    test(s"$name: whole-stage codegen ≡ interpreted") {
      val (compiled, inStage) = withConf(
          "spark.sql.codegen.wholeStage" -> "true",
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
          "spark.sql.codegen.fallback" -> "false") {
        run(name, c)
      }
      assert(inStage, s"$name did not run inside a WholeStageCodegen stage")
      val (interpreted, interpretedInStage) = withConf(
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        run(name, c)
      }
      assert(!interpretedInStage)
      assert(compiled.size === 4)
      assert(compiled === interpreted)
    }
  }
}
