package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FingerprintExpressionSpec extends SparkSpec {
  import spark.implicits._

  test("native expression ≡ higher-order-function formulation") {
    GraftFunctions.register(spark)
    val samples = Seq("", "a", "hello world", "the quick brown fox",
      "x" * 500, "punctuation, and; symbols!", "ünïcödé ↦ text")
    val df = samples.toDF("t")
    val both = df.select(
      call_function("graft_fingerprint", $"t").as("native"),
      Text.fingerprint($"t").as("hof")
    ).as[(Long, Long)].collect()
    both.foreach { case (n, h) => assert(n === h) }
  }

  test("SQL-registered and codegen path works end-to-end") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT graft_fingerprint('hello world') AS fp")
      .as[Long].head()
    val expect = Seq("hello world").toDF("t")
      .select(Text.fingerprint($"t")).as[Long].head()
    assert(r === expect)
    // type error surfaces at analysis, not execution
    val e = intercept[Exception](spark.sql("SELECT graft_fingerprint(42)").collect())
    assert(e.getMessage.toLowerCase.contains("string"))
  }

  test("all native functions are SQL-callable") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  graft_fingerprint('abc') AS fp,
        |  graft_minhash(graft_shingles(split('a b c d', ' '), 2), 4) AS mh,
        |  graft_simhash64(split('a b c', ' ')) AS sh,
        |  graft_jaccard(array('x','y'), array('y','z')) AS j,
        |  graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |            array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |  graft_dot_exact(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |            array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS de
        |""".stripMargin).head()
    assert(r.getAs[Seq[Long]]("mh").length === 4)
    assert(r.getAs[Double]("j") === 1.0 / 3)
    assert(r.getAs[Double]("d") === 11.0)
    assert(r.getAs[Double]("de") === 11.0)
  }

  test("graft_term_tfs: SQL form matches the DataFrame form") {
    GraftFunctions.register(spark)
    val df = Seq("the cat sat on the mat the end").toDF("t")
    df.createOrReplaceTempView("ttf_in")
    val sql = spark.sql(
      "SELECT graft_term_tfs(graft_tokens(t), 'the', 'cat', 'dog') AS tfs FROM ttf_in")
      .head().getSeq[Long](0).toList
    val api = df.select(
        TextExpressions.termTfs(Text.tokens($"t"), Seq("the", "cat", "dog")).as("tfs"))
      .head().getSeq[Long](0).toList
    assert(sql === api)
    assert(sql === List(3L, 1L, 0L))
  }

  test("graft_nfc + Text.canonical: composed/decomposed/case/space variants collapse") {
    GraftFunctions.register(spark)
    // decomposed e + U+0301 → precomposed é through the kernel
    val sqlNfc = spark.sql("SELECT graft_nfc('café') AS s").as[String].head()
    assert(sqlNfc === "café")
    // already-NFC fast path returns the input unchanged
    assert(spark.sql("SELECT graft_nfc('plain ascii') AS s").as[String].head()
      === "plain ascii")
    val variants = Seq(
      " café naïve mix",
      " CAFÉ NAÏVE  MIX",
      "  Café Naïve mix ")
    val canon = variants.toDF("t").select(Text.canonical($"t").as("c"))
      .as[String].collect().toSet
    assert(canon === Set("café naïve mix"),
      s"all variants must canonicalize to one byte sequence, got $canon")
  }

  test("graft_deletion_neighborhood: SQL form matches the DataFrame form") {
    GraftFunctions.register(spark)
    val sql = spark.sql("SELECT graft_deletion_neighborhood('abc') AS nb")
      .head().getSeq[String](0).toSet
    val api = Seq("abc").toDF("t")
      .select(FuzzyExpressions.deletionNeighborhood($"t").as("nb"))
      .head().getSeq[String](0).toSet
    assert(sql === api)
    assert(sql.contains("bc") && sql.contains("ac") && sql.contains("ab"))
  }

  test("graft_bpe_segment: SQL form matches the Column API") {
    GraftFunctions.register(spark)
    val sql = spark.sql(
      "SELECT graft_bpe_segment('lowest', 'l', 'o', 'lo', 'w') AS s")
      .as[Seq[String]].head()
    val api = Seq("lowest").toDF("w")
      .select(BpeExpressions.bpeSegment($"w", Seq(("l", "o"), ("lo", "w"))).as("s"))
      .as[Seq[String]].head()
    assert(sql === api)
    assert(sql === Seq("low", "e", "s", "t"))
  }

  test("graft_wordpiece: SQL form matches the Column API") {
    GraftFunctions.register(spark)
    val sql = spark.sql(
      "SELECT graft_wordpiece('abcbc', 'a', 'b', 'ab', 'abc', 'bc') AS s")
      .as[Seq[String]].head()
    val api = Seq("abcbc").toDF("w")
      .select(WordPieceExpressions.wordPiece($"w",
        new WordPieceVocab(Array("a", "b", "ab", "abc", "bc"))).as("s"))
      .as[Seq[String]].head()
    assert(sql === api)
    assert(sql === Seq("abc", "bc"))
  }

  test("a kernel keeps its graft_* name in plans and column names") {
    // a Range input, so the projection is not folded into a LocalRelation
    val in = spark.range(2).select($"id".cast("string").as("t"))
    // un-aliased: the default column name is the SQL form
    assert(in.select(TextExpressions.tokens($"t")).columns.toSeq === Seq("graft_tokens(t)"))
    val plan = in.select(TextExpressions.tokens($"t").as("toks"))
      .queryExecution.optimizedPlan.toString
    assert("graft_tokens\\(".r.findAllIn(plan).size === 1, plan)
    assert(!plan.toLowerCase.contains("staticinvoke"), plan)
    assert(!plan.contains("TextKernels$"), plan)
  }

  test("a wrongly typed kernel argument fails at analysis, naming the type") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Seq(1L).toDF("id").select(TextExpressions.tokens($"id")))
    assert(e.getMessage.contains("graft_tokens(id)"), e.getMessage)
    assert(e.getMessage.contains("\"STRING\""), e.getMessage)
  }

  test("kernels built separately from equal parameters are equal expressions") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.expression
    val t = $"t"
    def same(a: => org.apache.spark.sql.Column): Unit = {
      val (x, y) = (expression(a), expression(a))
      assert(x === y && x.hashCode === y.hashCode && x.semanticEquals(y))
    }
    same(TextExpressions.countIn(t, Seq("a", "b")))
    same(TextExpressions.termTfs(t, Seq("a", "b")))
    same(AcExpressions.acMatches(t, Seq("x y", "z")))
    same(BpeExpressions.bpeSegment(t, Seq(("l", "o"), ("lo", "w"))))
    same(NgramExpressions.tokenNgramStrings(t, 3))
    assert(expression(NgramExpressions.tokenNgramStrings(t, 3)) !==
      expression(NgramExpressions.tokenNgramStrings(t, 2)))
  }
}
