package graftbench

/** A named query mix. `refPassS` is the workload's warm pass time on the
  * reference box (4 cores); it turns `--seconds` into a fixed number of
  * warm passes, so every run of one workload at one `--seconds` draws
  * the same number of samples, and percentiles stay comparable between
  * runs and between commits.
  */
final case class Workload(name: String, queries: Seq[String], refPassS: Double) {

  /** Warm passes for a measuring time of `seconds`: enough to fill it at
    * the reference pace, at least three for a median, and at least
    * `MinSamples` executions, so that the tail percentile (ten samples
    * beyond it) is not below the median.
    */
  def warmPasses(seconds: Int): Int =
    Seq(3, math.ceil(Workloads.MinSamples.toDouble / queries.size).toInt,
      math.round(seconds / refPassS).toInt).max
}

object Workloads {

  val MinSamples = 20

  val all: Seq[Workload] = Seq(
    // Eager work inside the query functions: k-means Lloyd iterations,
    // a WordPiece inventory fitted from collected n-gram counts, and a
    // streaming run's micro-batches launch most of their jobs while the
    // DataFrame is built, so driver time and the per-job floor set the
    // pace.
    Workload("iterative_fit", Seq("q44_kmeans_train", "q123_wordpiece_vocab",
      "q62_streaming_dedup"), 5.3),
    // One scan of the corpus per query, scored row by row (TextKernels
    // tokens, GopherKernels repetition, HTML block extraction, regex
    // redaction): four jobs a query, and executor CPU fills most of the
    // wall time.
    Workload("text_kernels", Seq("q18_text", "q198_gopher_repetition",
      "q209_main_content", "q48_pii_redact"), 4.5))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))

  /** The query order of one pass: a shuffle seeded by (seed, pass), so the
    * same seed always gives the same order and each pass its own. The
    * order matters because queries share memos across executions.
    */
  def order(queries: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
}
