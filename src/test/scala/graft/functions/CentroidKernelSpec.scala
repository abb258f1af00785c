package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Native centroid/PQ kernels ≡ the HOF formulations they replaced
  * (graft.operators.Similarity), bit-for-bit: fold order, float→double
  * widening, scale-12 quantization, first-occurrence argmin ties.
  */
class CentroidKernelSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private val dim = 8
  private val m = 2
  private val ds = dim / m

  // duplicate codeword 2 == codeword 0 per subspace: exact ties must
  // resolve to the FIRST index
  private val books: Array[Array[Array[Double]]] = Array.tabulate(m) { _ =>
    val base = Array.fill(3)(Array.fill(ds)(rnd.nextInt(32) / 16.0))
    Array(base(0), base(1), base(0).clone())
  }
  private val cents: Array[Array[Double]] =
    Array.fill(5)(Array.fill(dim)(rnd.nextInt(32) / 16.0)) ++
      Array(Array.fill(dim)(0.0))

  private val vecsF = ((1 to 60).map(_ =>
    Seq.fill(dim)(rnd.nextInt(64) / 16.0f)) ++
    // exact-tie row: equals centroid 0 and (via the duplicate) both
    // tied codewords
    Seq(cents(0).map(_.toFloat).toSeq, Seq.fill(dim)(0.0f)))
    .toDF("v").repartition(3)

  // ---- HOF formulations (the replaced shapes, kept as the spec) ----
  private def d2Hof(v: Column, c: Array[Double]): Column = aggregate(
    zip_with(v, lit(c), (x, w) => { val t = x.cast("double") - w; t * t }),
    lit(0.0), (s, t2) => s + t2)
  private def distsHof(v: Column): Column =
    array(cents.map(c => d2Hof(v, c)).toIndexedSeq: _*)
  private def nearestHof(v: Column): Column = {
    val d = distsHof(v)
    (array_position(d, array_min(d)) - 1).cast("int")
  }
  private def distExactHof(v: Column, c: Array[Double]): Column = aggregate(
    zip_with(v, lit(c), (x, w) => {
      val t = x.cast("double") - w
      (t * t).cast(DecimalType(18, 12))
    }),
    lit(BigDecimal(0)).cast(DecimalType(28, 12)),
    (s, t2) => (s + t2).cast(DecimalType(28, 12)))
  private def sub(v: Column, j: Int) = slice(v, j * ds + 1, ds)
  private def lutHof(v: Column): Column = array((for (j <- 0 until m;
    cw <- books(j)) yield aggregate(
      zip_with(sub(v, j), lit(cw), (x, w) => x.cast("double") * w),
      lit(0.0), (s, p) => s + p)): _*)
  private def lutExactHof(v: Column): Column = array((for (j <- 0 until m;
    cw <- books(j)) yield
      graft.operators.Similarity.dotExactHof(sub(v, j), lit(cw))): _*)
  private def assignHof(v: Column, exact: Boolean): Column =
    array((0 until m).map { j =>
      val d = array(books(j).map(c =>
        if (exact) distExactHof(sub(v, j), c) else d2Hof(sub(v, j), c)): _*)
      (array_position(d, array_min(d)) - 1).cast("int")
    }: _*)
  private def resid2Hof(v: Column, codes: Column): Column =
    (0 until m).map { j =>
      books(j).zipWithIndex.tail.foldLeft(
        when(element_at(codes, j + 1) === 0, d2Hof(sub(v, j), books(j)(0)))) {
        case (acc, (c, i)) => acc.when(element_at(codes, j + 1) === i,
          d2Hof(sub(v, j), c))
      }
    }.reduce(_ + _)

  private def bits(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case a: Seq[_] => a.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case x => x
      }
      case x => x
    }).toSeq

  test("dists / nearest kernels ≡ HOF (float vectors, ties to first)") {
    val k = vecsF.select(
      CentroidExpressions.dists($"v", cents).as("d"),
      CentroidExpressions.nearest($"v", cents).as("n"))
    val h = vecsF.select(distsHof($"v").as("d"), nearestHof($"v").as("n"))
    assert(bits(k) === bits(h))
  }

  test("distExactSel kernel ≡ decimal HOF per selected centroid") {
    for (i <- cents.indices) {
      val k = vecsF.select(
        CentroidExpressions.distExactSel($"v", lit(i), cents).as("d"))
      val h = vecsF.select(distExactHof($"v", cents(i)).cast(DecimalType(28, 12)).as("d"))
      assert(k.collect().map(_.getDecimal(0)).toSeq ===
        h.collect().map(_.getDecimal(0)).toSeq, s"centroid $i")
    }
  }

  test("nearestExact kernel ≡ epsilon-banded exact argmin (ties to lowest cell)") {
    // the replaced pipeline: fast double dists → 1e-6 band → exact
    // decimal dist on band survivors → min(struct(dist, cell))
    val banded = vecsF
      .withColumn("_rid", monotonically_increasing_id())
      .select($"_rid", $"v", distsHof($"v").as("_fa"))
      .select($"_rid", $"v", array_min($"_fa").as("_amin"),
        posexplode($"_fa").as(Seq("_cellc", "_fd")))
      .filter($"_fd" <= $"_amin" + 1e-6)
      .withColumn("_dist",
        cents.zipWithIndex.tail.foldLeft(
          when($"_cellc" === 0, distExactHof($"v", cents(0)))) {
          case (acc, (c, i)) => acc.when($"_cellc" === i, distExactHof($"v", c))
        })
      .groupBy("_rid")
      .agg(min(struct($"_dist".as("_d"), $"_cellc".as("_c"))).as("_m"))
      .select($"_rid", $"_m._c".as("cell"))
      .orderBy("_rid").collect().map(_.getInt(1)).toSeq
    val kernel = vecsF
      .withColumn("_rid", monotonically_increasing_id())
      .select($"_rid", CentroidExpressions.nearestExact($"v", cents).as("cell"))
      .orderBy("_rid").collect().map(_.getInt(1)).toSeq
    assert(kernel === banded)
  }

  test("pq lut / lutExact / assign / resid2 kernels ≡ HOF (float)") {
    val codesK = CentroidExpressions.pqAssign($"v", books, exact = false)
    val k = vecsF.select(
      CentroidExpressions.pqLut($"v", books).as("lut"),
      CentroidExpressions.pqLutExact($"v", books).as("lute"),
      codesK.as("codes"),
      CentroidExpressions.pqAssign($"v", books, exact = true).as("codese"),
      CentroidExpressions.pqResid2($"v", codesK, books).as("r2"))
    val codesH = assignHof($"v", exact = false)
    val h = vecsF.select(lutHof($"v").as("lut"), lutExactHof($"v").as("lute"),
      codesH.as("codes"), assignHof($"v", exact = true).as("codese"),
      resid2Hof($"v", codesH).as("r2"))
    assert(bits(k) === bits(h))
  }

  test("kernels ≡ HOF on double-element vectors (residual path)") {
    val vecsD = (1 to 40).map(_ => Seq.fill(dim)(rnd.nextInt(64) / 16.0 - 1.0))
      .toDF("v").repartition(3)
    val codesK = CentroidExpressions.pqAssign($"v", books, exact = true)
    val k = vecsD.select(
      CentroidExpressions.dists($"v", cents).as("d"),
      CentroidExpressions.pqLutExact($"v", books).as("lute"),
      codesK.as("codes"),
      CentroidExpressions.pqResid2($"v", codesK, books).as("r2"))
    val codesH = assignHof($"v", exact = true)
    val h = vecsD.select(distsHof($"v").as("d"), lutExactHof($"v").as("lute"),
      codesH.as("codes"), resid2Hof($"v", codesH).as("r2"))
    assert(bits(k) === bits(h))
  }

  test("exact kernels throw on a (x-c)^2 outside DECIMAL(18,12) where the HOF spec gives null") {
    // |x − c| ≥ 10³ for every centroid and codeword: (x−c)² ≥ 10⁶
    // overflows the DECIMAL(18,12) quantization. The kernels fail
    // loudly, naming themselves; the non-ANSI HOF cast gives null.
    val far = Seq(Seq.fill(dim)(1500.0)).toDF("v")
    def overflow(kernel: String)(c: Column): Unit = {
      val e = intercept[Exception](far.select(c).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collect { case a: ArithmeticException => a.getMessage }.toSeq
      assert(msgs.exists(m => m.startsWith(s"$kernel: (x-c)^2 = ") &&
        m.endsWith("does not fit DECIMAL(18,12)")), s"$kernel: $e")
    }
    overflow("nearestExact")(CentroidExpressions.nearestExact($"v", cents))
    overflow("distExactSel")(CentroidExpressions.distExactSel($"v", lit(0), cents))
    overflow("pqAssign")(CentroidExpressions.pqAssign($"v", books, exact = true))
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      assert(far.select(distExactHof($"v", cents(0))).head().isNullAt(0))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)

    // just inside the bound (|x − c| < 10³ everywhere) the kernels
    // still match the spec
    val near = Seq(Seq.fill(dim)(999.0), Seq.tabulate(dim)(i => -997.0 + i))
      .toDF("v")
    val exact = cents.indices.map { i =>
      near.select(distExactHof($"v", cents(i)).cast(DecimalType(28, 12)))
        .collect().map(_.getDecimal(0)).toSeq
    }
    for (i <- cents.indices)
      assert(near.select(CentroidExpressions.distExactSel($"v", lit(i), cents))
        .collect().map(_.getDecimal(0)).toSeq === exact(i), s"centroid $i")
    val argmin = exact.transpose.map(d => d.indexOf(d.minBy(BigDecimal(_))))
    assert(near.select(CentroidExpressions.nearestExact($"v", cents))
      .collect().map(_.getInt(0)).toSeq === argmin)
    assert(bits(near.select(CentroidExpressions.pqAssign($"v", books, exact = true))) ===
      bits(near.select(assignHof($"v", exact = true))))
  }
}
