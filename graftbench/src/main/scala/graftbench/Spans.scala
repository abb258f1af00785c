package graftbench

/** One timed interval of the traced run: run, pass, query, build,
  * execute, job or stage. Times are microseconds since the epoch;
  * `parent` is the id of the span that caused it (-1 for the run).
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Double] = Map.empty) {
  def durUs: Long = endUs - startUs
}

object Spans {

  /** Microseconds of [start, end) covered by the union of `children`,
    * each clipped to that interval. Overlapping children count once.
    */
  def covered(start: Long, end: Long, children: Iterable[(Long, Long)]): Long = {
    val clipped = children.iterator
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .toSeq.sortBy(_._1)
    var total = 0L
    var reached = Long.MinValue
    for ((s, e) <- clipped) {
      val from = math.max(s, reached)
      if (e > from) { total += e - from; reached = e }
    }
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfUs(parent: Span, children: Iterable[Span]): Long =
    parent.durUs - covered(parent.startUs, parent.endUs,
      children.map(c => (c.startUs, c.endUs)))

  def toJson(spans: Seq[Span]): String = spans.map { s =>
    val attrs = s.attrs.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
      s""""name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs},"attrs":$attrs}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** The few JSON encodings the benchmark writes. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Finite numbers as measured, with all their digits; JSON has no NaN. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
